"""Per-layer metrics of a traced run: span self times, Spark event-log task
metrics attributed to spans, manifest diffs, and isolated stage timings.

Every traced run reports every metric in ``PER_LAYER``; a layer the
workload does not exercise reads 0. Times and counts are per batch for the
ingest layers (a ``process_batch`` call), per read for the read path, per
pass for queries and per operation for ``spark.*``.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from pyspark.sql import functions as F

from perfbench.trace import covered, read_event_log
from perfbench.workloads import QUERIES, TableReads

# self time of these span layers, per batch
SELF_TIMES = {
    "flatten.plan": "flatten.plan_s",
    "infer.sample": "infer.sample_s",
    "lineage.plan": "lineage.plan_s",
    "lineage.append": "lineage.append_s",
    "laketable.merge_upsert": "laketable.merge_upsert_s",
    "laketable.fold": "laketable.fold_s",
    "laketable.manifest_read": "laketable.manifest_read_s",
    "pipeline.batch": "pipeline.unattributed_s",
}
WRITE_LAYERS = ("laketable.merge_upsert", "laketable.fold", "laketable.manifest_read")
ISOLATED_REPS = 3

PER_LAYER = (
    [
        ("sources.scan_s", "s"),
        ("sources.bytes_read", "bytes"),
        ("flatten.exec_s", "s"),
        ("flatten.plan_s", "s"),
        ("flatten.json_exec_s", "s"),
        ("infer.sample_s", "s"),
        ("infer.json_sample_s", "s"),
        ("lineage.agg_s", "s"),
        ("lineage.plan_s", "s"),
        ("lineage.append_s", "s"),
        ("laketable.merge_upsert_s", "s"),
        ("laketable.shuffle_write_bytes", "bytes"),
        ("laketable.shuffle_read_bytes", "bytes"),
        ("laketable.spill_bytes", "bytes"),
        ("laketable.files_written", "count"),
        ("laketable.bytes_written", "bytes"),
        ("laketable.write_amp", "ratio"),
        ("laketable.fold_s", "s"),
        ("laketable.fold_bytes_rewritten", "bytes"),
        ("laketable.fold_batches", "count"),
        ("laketable.manifest_reads", "count"),
        ("laketable.manifest_read_s", "s"),
        ("laketable.manifest_bytes", "bytes"),
        ("laketable.delta_files_pending", "count"),
        ("pipeline.driver_self_s", "s"),
        ("pipeline.spark_jobs_per_batch", "count"),
        ("pipeline.tasks_per_batch", "count"),
        ("pipeline.unattributed_s", "s"),
    ]
    + [
        (f"read.{r}.{m}", u)
        for r in TableReads.READS
        for m, u in (("plan_s", "s"), ("exec_s", "s"), ("files_scanned", "count"),
                     ("files_total", "count"))
    ]
    + [(f"query.{q}_s", "s") for q in QUERIES]
    + [
        ("queries.plan_s", "s"),
        ("queries.shuffle_bytes", "bytes"),
        ("queries.spill_bytes", "bytes"),
        ("spark.executor_run_s", "s"),
        ("spark.executor_cpu_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.shuffle_fetch_wait_s", "s"),
        ("spark.tasks", "count"),
        ("trace.overhead_s", "s"),
        ("trace.batch_gap_s", "s"),
    ]
)


def _manifest_files(m) -> tuple[set, dict]:
    if not m:
        return set(), {}
    files = {f for sec in ("files", "deltas") for fl in m.get(sec, {}).values() for f in fl}
    return files, m.get("file_bytes", {})


def _manifest_bytes(table_path: str, version: int) -> int:
    mdir = os.path.join(table_path, "manifests")
    core = os.path.join(mdir, f"v{version:010d}.json")
    with open(core) as fh:
        refs = json.load(fh).get("sections_ref") or {}
    return os.path.getsize(core) + sum(
        os.path.getsize(os.path.join(mdir, rel)) for rel in set(refs.values())
    )


def before_op(wl) -> set:
    t = getattr(wl, "table", None)
    return _manifest_files(t.current_manifest())[0] if t is not None else set()


def after_op(wl, pre: set) -> dict:
    """Manifest-side write accounting of one traced operation (runs with the
    tracer disabled, outside the timed region)."""
    t = getattr(wl, "table", None)
    if t is None:
        return {}
    m = t.current_manifest()
    files, sizes = _manifest_files(m)
    new = files - pre
    return {
        "files_written": len(new),
        "bytes_written": sum(sizes.get(os.path.basename(f), 0) for f in new),
        "manifest_bytes": _manifest_bytes(t.path, m["version"]),
        "delta_files_pending": t.stats()["delta_files_pending"],
    }


def isolated(ctx, wl) -> dict:
    """Measurements outside the loop, after it:

    - scan, flatten and lineage of one batch input, each alone to a noop
      sink, and the same batch rendered as the JSON-string WAL (schema
      sampling, then parse + flatten), median of ISOLATED_REPS each;
    - the workload's untraced probe: the same operation with tracing off,
      the comparison for ``trace.overhead_s``;
    - where the workload offers one, ISOLATED_REPS checked rounds of the
      four reads.
    """
    out: dict = {"untraced": wl.untraced_probe()}
    if hasattr(wl, "isolated_inputs"):
        out.update(_isolated_stages(ctx, wl))
    if hasattr(wl, "read_probe"):
        reads = wl.read_probe()
        rounds = [reads.run() for _ in range(ISOLATED_REPS)]
        out["reads"] = {
            r: {k: statistics.median(rd[r][k] for rd in rounds) for k in rounds[0][r]}
            for r in TableReads.READS
        }
    return out


def _isolated_stages(ctx, wl) -> dict:
    from dataclasses import replace

    from tap_rest_api_msdk_spark.sources.reader import infer_payload_struct
    from tap_rest_api_msdk_spark.streaming.metrics import lineage_metrics
    from tap_rest_api_msdk_spark.streaming.pipeline import prepare_batch

    df, conf = wl.isolated_inputs()
    as_json = df.withColumn(conf.payload_col, F.to_json(conf.payload_col))
    json_conf = replace(conf, payload_schema=None)
    keys = [F.col(k) for k in conf.keys]
    bucket = F.pmod(F.xxhash64(*keys), F.lit(wl.table.num_buckets)).cast("int")

    def noop(frame):
        return lambda: frame.write.format("noop").mode("overwrite").save()

    def sample():
        json_conf.payload_schema = infer_payload_struct(
            as_json, conf.payload_col, conf.inference_records)

    steps = {
        "sources.scan": noop(df),
        "flatten.exec": lambda: noop(prepare_batch(df, conf, None))(),
        "lineage.agg": lambda: lineage_metrics(
            df.withColumn("__p", bucket), "__p", conf.replication_key, ts_col=conf.ts_col,
        ).collect(),
        "json.scan": noop(as_json),
        "infer.json_sample": sample,
        "flatten.json_exec": lambda: noop(prepare_batch(as_json, json_conf, None))(),
    }
    tr = ctx.tracer
    out: dict = {}
    tr.op, tr.enabled = -2, True
    try:
        for name, fn in steps.items():
            times = []
            for _ in range(ISOLATED_REPS):
                with tr.span(name):
                    t0 = time.perf_counter()
                    fn()
                    times.append(time.perf_counter() - t0)
            out[name] = statistics.median(times)
    finally:
        tr.enabled = False
    return out


def _layer_self_sum(tr, root) -> float:
    """Sum of the SELF_TIMES self times over the span tree under ``root``."""
    total, todo = 0.0, [root]
    while todo:
        sp = todo.pop()
        if sp.layer in SELF_TIMES:
            total += tr.self_time(sp)
        todo.extend(tr.spans[c] for c in sp.children)
    return total


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(ctx, wl, traced, iso, eventlog_dir) -> dict:
    """Per-layer metrics from the traced loop operations ``traced``."""
    tr = ctx.tracer
    jobs = read_event_log(eventlog_dir)
    spans = tr.spans
    out = {name: 0.0 for name, _ in PER_LAYER}
    n_ops = len(traced) or 1
    traced_ids = {o["i"] for o in traced}

    # jobs of traced operations: attributed by span, the rest by time window
    def op_of(job):
        if job.span is not None and job.span < len(spans):
            return spans[job.span].op
        for o in traced:
            if o["start"] <= job.start <= o["end"]:
                return o["i"]
        return None

    op_jobs = [j for j in jobs if op_of(j) in traced_ids]
    layer_of = lambda j: spans[j.span].layer if j.span is not None else None  # noqa: E731

    # ---- ingest: span self times and per-batch accounting
    batches = [s for s in spans if s.layer == "pipeline.batch" and s.op in traced_ids]
    nb = len(batches) or 1
    for s in spans:
        if s.op in traced_ids and s.layer in SELF_TIMES:
            out[SELF_TIMES[s.layer]] += tr.self_time(s) / nb
    out["laketable.manifest_reads"] = sum(
        1 for s in spans if s.op in traced_ids and s.layer == "laketable.manifest_read") / nb
    if batches:
        job_iv = [(j.start, j.end) for j in op_jobs]
        in_batch = [j for j in op_jobs if any(b.start <= j.start <= b.end for b in batches)]
        out["pipeline.driver_self_s"] = sum(
            b.wall - covered(job_iv, b.start, b.end) for b in batches) / nb
        out["pipeline.spark_jobs_per_batch"] = len(in_batch) / nb
        out["pipeline.tasks_per_batch"] = sum(j.tasks for j in in_batch) / nb
        write = [j for j in op_jobs if layer_of(j) in WRITE_LAYERS]
        out["laketable.shuffle_write_bytes"] = sum(j.shuffle_write for j in write) / nb
        out["laketable.shuffle_read_bytes"] = sum(j.shuffle_read for j in write) / nb
        out["laketable.spill_bytes"] = sum(j.spill for j in write) / nb
        folds = [j for j in op_jobs if layer_of(j) == "laketable.fold"]
        out["laketable.fold_bytes_rewritten"] = sum(j.output_bytes for j in folds) / nb
        # share of batches that folded
        out["laketable.fold_batches"] = len({spans[j.span].op for j in folds}) / nb
        # per batch, the layer self times against the benchmark's own timer
        # around the call: a span outside SELF_TIMES, or time the spans do
        # not see, shows as a gap
        layer_sum = {b.op: _layer_self_sum(tr, b) for b in batches}
        out["trace.batch_gap_s"] = max(abs(o["s"] - layer_sum[o["i"]]) for o in traced)
        units = sum(o["units"] for o in traced)
        written = sum(o.get("bytes_written", 0) for o in traced)
        out["laketable.files_written"] = sum(o.get("files_written", 0) for o in traced) / nb
        out["laketable.bytes_written"] = written / nb
        out["laketable.write_amp"] = written / wl.input_bytes(units) if units else 0.0
        out["laketable.manifest_bytes"] = _median(o["manifest_bytes"] for o in traced)
        out["laketable.delta_files_pending"] = _median(o["delta_files_pending"] for o in traced)

    # ---- isolated stages of one batch input
    if "sources.scan" in iso:
        out["sources.scan_s"] = iso["sources.scan"]
        out["flatten.exec_s"] = max(0.0, iso["flatten.exec"] - iso["sources.scan"])
        out["lineage.agg_s"] = iso["lineage.agg"]
        out["infer.json_sample_s"] = iso["infer.json_sample"]
        out["flatten.json_exec_s"] = max(0.0, iso["flatten.json_exec"] - iso["json.scan"])
        scans = [j for j in jobs if j.span is not None and spans[j.span].layer == "sources.scan"]
        out["sources.bytes_read"] = sum(j.input_bytes for j in scans) / ISOLATED_REPS

    # ---- read path
    for r, rec in iso.get("reads", {}).items():
        for k in ("plan", "exec"):
            out[f"read.{r}.{k}_s"] = rec[k]
        for k in ("files_scanned", "files_total"):
            out[f"read.{r}.{k}"] = rec[k]

    # ---- queries
    if wl.name == "query_suite":
        for q in wl.names:
            out[f"query.{q}_s"] = _median(o["queries"][q][0] for o in traced)
        out["queries.plan_s"] = _median(sum(p for _, p in o["queries"].values()) for o in traced)
        qjobs = [j for j in op_jobs if (layer_of(j) or "").startswith("query.")]
        out["queries.shuffle_bytes"] = sum(j.shuffle_write for j in qjobs) / n_ops
        out["queries.spill_bytes"] = sum(j.spill for j in qjobs) / n_ops

    # ---- Spark engine totals, per traced operation
    out["spark.executor_run_s"] = sum(j.run_s for j in op_jobs) / n_ops
    out["spark.executor_cpu_s"] = sum(j.cpu_s for j in op_jobs) / n_ops
    out["spark.gc_s"] = sum(j.gc_s for j in op_jobs) / n_ops
    out["spark.shuffle_fetch_wait_s"] = sum(j.fetch_wait_s for j in op_jobs) / n_ops
    out["spark.tasks"] = sum(j.tasks for j in op_jobs) / n_ops
    if traced and iso.get("untraced"):
        out["trace.overhead_s"] = _median(o["s"] for o in traced) - _median(iso["untraced"])
    unit_of = dict(PER_LAYER)
    return {k: (v, unit_of[k]) for k, v in out.items()}
