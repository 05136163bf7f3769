#!/usr/bin/env python3
"""Benchmark of the CDC engine: one command, one workload per run.

    python3 perfbench/run.py --workload steady_cdc --seed 1 --seconds 10 --trace 0

Runs from the repository root. Each run starts a fresh Spark session sized
from the host, builds its inputs from ``--seed``, runs one closed loop for
``--seconds`` seconds, checks the outputs outside the timed region and
prints a detail line (host, seed, the named metrics of its workload) and,
last, one JSON result line. ``--trace 1`` instead wraps the engine's
public functions in spans and reports the per-layer metrics listed in
BENCHMARK.json; ``--smoke`` shrinks every input for a quick end-to-end
test. Everything the run writes stays under ``perfbench/_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)


def _meminfo() -> dict:
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) * 1024
    return out


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Context:
    """Settings and handles of one run, shared by the workload and the tracer."""

    def __init__(self, args, work):
        self.seed = args.seed
        self.seconds = args.seconds
        self.smoke = args.smoke
        self.trace = args.trace == 1
        self.work = work
        self.bench_dir = BENCH_DIR
        self.repo_root = REPO_ROOT
        self.cores = len(os.sched_getaffinity(0))
        total_gib = _meminfo().get("MemTotal", 12 << 30) / (1 << 30)
        # a third of the host's memory, whole GiB, between 1 and 4: fixed per
        # host, so every run on it has the same maximum heap however much
        # memory happens to be free when the run starts
        self.driver_mem_gb = int(max(1, min(4, total_gib // 3)))
        self.spark = None
        self.tracer = None

    def host(self) -> dict:
        import pyspark

        mem = _meminfo()
        return {
            "nproc": self.cores,
            "mem_total_gib": round(mem.get("MemTotal", 0) / (1 << 30), 2),
            "mem_available_gib": round(mem.get("MemAvailable", 0) / (1 << 30), 2),
            "cpu_model": _cpu_model(),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "driver_memory": f"{self.driver_mem_gb}g",
            "master": f"local[{self.cores}]",
            "shuffle_partitions": 2 * self.cores,
        }


def start_session(ctx: Context):
    """Session sized from the host; everything it writes lives in ``work``."""
    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers are forked by the JVM, which inherits this environment:
    # the package is not installed, so they need the repo on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cores)
    os.environ["SPARK_DRIVER_MEM"] = f"{ctx.driver_mem_gb}g"
    # both spellings: SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(
        ctx.work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts first: no perf-data file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        # a young generation fixed at a quarter of the heap, and a GC time
        # target (20%) well above what young collections take here: G1
        # otherwise sizes both by measured pause times, and under host load
        # a run's peak RSS jumped ~600 MB between identical runs; the heap
        # still grows as far as the engine's live data takes it
        "spark.driver.extraJavaOptions":
            f"-Xmn{ctx.driver_mem_gb * 256}m -XX:GCTimeRatio=4 -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.trace:
        os.makedirs(os.path.join(ctx.work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(ctx.work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    from tap_rest_api_msdk_spark.session import get_spark

    spark = get_spark("perfbench", cores=ctx.cores, shuffle_partitions=2 * ctx.cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb(spark) -> dict:
    """VmHWM of the Spark JVM and of this (driver) Python process."""
    return {"jvm": _vm_hwm_mb(spark.sparkContext._gateway.proc.pid),
            "python": _vm_hwm_mb("self")}


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()  # the gateway JVM exits at end of its stdin
    gateway.proc.wait(timeout=60)


def run(args) -> tuple[dict, dict]:
    work = os.path.join(BENCH_DIR, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work) -> tuple[dict, dict]:
    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    ctx = Context(args, work)
    wl = WORKLOADS[args.workload](ctx)
    detail = {"workload": args.workload, "seed": args.seed,
              "seed_applies": args.workload != "query_suite", "trace": ctx.trace,
              "smoke": ctx.smoke, "seconds": args.seconds, "host": ctx.host()}
    attempted = failed = 0
    ops = []
    iso = {}
    rss = {}
    t0 = time.perf_counter()
    try:
        try:
            ctx.spark = start_session(ctx)
            detail["session_start_s"] = time.perf_counter() - t0
            if ctx.trace:
                ctx.tracer = Tracer(ctx.spark)
                ctx.tracer.install()
            wl.setup()
            ready = True
        except Exception:  # a failed set-up counts as one failed operation
            traceback.print_exc(file=sys.stderr)
            attempted, failed, ready = 1, 1, False
        setup_s = time.perf_counter() - t0
        if ready:
            attempted, failed, iso = _loop(args, ctx, wl, ops)
        if ctx.spark is not None:
            rss = peak_rss_mb(ctx.spark)
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)

    good = [o for o in ops if o["ok"]]
    total_s = sum(o["s"] for o in good)
    detail.update({"setup_parts": getattr(wl, "setup_parts", {}),
                   "op_seconds": [round(o["s"], 4) for o in ops],
                   "peak_rss_mb": rss,
                   "named_metrics": wl.named_metrics(good) if good else {}})
    metrics = {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (sum(o["units"] for o in good) / total_s if total_s else 0.0, "1/s"),
        "op_p50_s": (statistics.median(o["s"] for o in good) if good else 0.0, "s"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
    }
    if ctx.trace:
        if ready:
            metrics = layers.per_layer(ctx, wl, good, iso, os.path.join(work, "eventlog"))
            ctx.tracer.dump(work + ".spans.json")
        else:
            metrics = {name: (0.0, unit) for name, unit in layers.PER_LAYER}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def _loop(args, ctx, wl, ops) -> tuple[int, int, dict]:
    """The timed closed loop, then the traced run's probes and the output
    check; returns (attempted, failed, isolated measurements)."""
    from perfbench import layers

    attempted = failed = 0
    busy = 0.0
    loop_start = time.perf_counter()
    i = 0
    while True:
        if hasattr(wl, "before_op"):
            wl.before_op(i)
        pre = layers.before_op(wl) if ctx.trace else None
        if ctx.tracer:
            ctx.tracer.op, ctx.tracer.enabled = i, True
        w0, p0 = time.time(), time.perf_counter()
        ok = True
        try:
            units = wl.op(i)
        except Exception:  # counted, reported and the loop stops
            traceback.print_exc(file=sys.stderr)
            ok, units = False, 0
        dt = time.perf_counter() - p0
        if ctx.tracer:
            ctx.tracer.enabled = False
        attempted += 1
        failed += 0 if ok else 1
        rec = {"i": i, "s": dt, "units": units, "ok": ok, "start": w0, "end": w0 + dt}
        if ok and hasattr(wl, "op_record"):
            rec.update(wl.op_record())
        if ok and ctx.trace:
            rec.update(layers.after_op(wl, pre))
        ops.append(rec)
        busy += dt
        if not ok:
            break
        if wl.done(i, busy) or time.perf_counter() - loop_start > 3 * args.seconds + 60:
            break
        i += 1

    iso = {}
    if ctx.trace:
        attempted += 1
        try:
            iso = layers.isolated(ctx, wl)
        except Exception:  # a failed probe or read check counts as failed
            traceback.print_exc(file=sys.stderr)
            failed += 1
    attempted += 1
    try:
        wl.check()
    except Exception:  # a failed check counts as a failed operation
        traceback.print_exc(file=sys.stderr)
        failed += 1
    return attempted, failed, iso


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (tests)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(REPO_ROOT, "tap_rest_api_msdk_spark", "__init__.py")):
        print(f"no engine package next to {BENCH_DIR}: run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO_ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    detail, result = run(args)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
