"""The two workloads. Each is a closed loop with one client (one writer or
one reader): the next operation starts when the previous one returns.

A workload has ``setup()`` (untimed by the loop, reported as setup_s),
``op(i)`` (one timed operation, returns the work units it did),
``done(i, elapsed)`` (whether the loop may stop after op ``i``), per-op
output checks, and a final ``check()`` outside the timed region.
"""

from __future__ import annotations

import glob
import os
import statistics
import sys
import time
import traceback

from pyspark.sql import functions as F

# Sizes: (full run, smoke run). Chosen so one run, session start included,
# takes under a minute on a 4-vCPU host.
SIZES = {
    "steady_boot": (40_000, 16_000),
    "steady_batch": (5_000, 1_000),
    "steady_max_batches": (20, 20),
}
WARMUP_BATCHES = 4
# unfolded delta batches written before the traced run's read-path probe;
# WARMUP_BATCHES + READ_CHAIN stays below the table's fold_every (10), so
# none of them folds
READ_CHAIN = 5
N_REPOS, N_PATHS = 2000, 5000
NUM_BUCKETS = 64
# One cheap query per module the suite would otherwise leave unmeasured:
# the relational core (queries.py), operators/{neardup,asof,range_join,scd,
# decontaminate} and functions/{similarity,sketch,freq,multimodal,text};
# the last two run pandas/Arrow kernels on Python workers, which need the
# package on the workers' path.
QUERIES = [
    "pricing_summary",
    "dedup_contained",
    "asof_join_signup",
    "range_join_clicks",
    "scd2_history",
    "decontaminate_ngram_shuffle",
    "ann_cosine_topk",
    "approx_distinct_users",
    "heavy_hitters_countmin",
    "multimodal_png_features",
    "text_char_entropy",
]
SMOKE_QUERIES = ["pricing_summary", "approx_distinct_users", "text_char_entropy"]


class CheckFailed(Exception):
    pass


def _size(ctx, key):
    return SIZES[key][1 if ctx.smoke else 0]


def _write_wal(ctx, name, n_events):
    """The shredded (payload as a native struct) WAL of ``n_events`` events."""
    from tap_rest_api_msdk_spark.sources.wal_synth import synth_repo_wal

    path = os.path.join(ctx.work, name)
    synth_repo_wal(
        ctx.spark, n_events, n_repos=N_REPOS, n_paths=N_PATHS, seed=ctx.seed,
        partitions=ctx.cores, shredded=True,
    ).write.mode("overwrite").parquet(path)
    wal_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "*.parquet")))
    return path, wal_bytes


def _near(elapsed, ops, seconds):
    """Stop at the operation boundary nearest to ``seconds``: another op
    would overshoot by more than it would fall short."""
    return elapsed + elapsed / ops / 2 >= seconds


def _seq_window(df, lo, hi):
    return df.filter((F.col("seq") >= F.lit(lo)) & (F.col("seq") < F.lit(hi)))


class SteadyCdc:
    """Shredded-WAL micro-batches into a bootstrapped cow_incremental table."""

    name = "steady_cdc"

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self):
        from tap_rest_api_msdk_spark.streaming.laketable import LakeTable
        from tap_rest_api_msdk_spark.streaming.pipeline import PipelineConfig, process_batch

        ctx = self.ctx
        t0 = time.perf_counter()
        self.boot = _size(ctx, "steady_boot")
        self.bs = _size(ctx, "steady_batch")
        self.max_batches = _size(ctx, "steady_max_batches")
        self.wal_events = self.boot + self.bs * (WARMUP_BATCHES + self.max_batches + READ_CHAIN)
        self.wal_path, self.wal_bytes = _write_wal(ctx, "wal_shredded", self.wal_events)
        self.wal = ctx.spark.read.parquet(self.wal_path)
        self.table = LakeTable(ctx.spark, os.path.join(ctx.work, "steady_t"), num_buckets=NUM_BUCKETS)
        self.fold_every = self.table.fold_every
        self.conf = PipelineConfig(
            stream="steady", payload_col="payload",
            payload_schema=self.wal.schema["payload"].dataType,
            num_buckets=NUM_BUCKETS, sink_mode="cow",
        )
        t1 = time.perf_counter()
        process_batch(self.table, self.conf, _seq_window(self.wal, 0, self.boot), 0)
        self.conf.sink_mode = "cow_incremental"
        t2 = time.perf_counter()
        # warm-up: the first delta batch runs sequentially and seeds the
        # overlap estimate the steady batches use; the rest settle the JIT
        self.next_seq, self.next_id = self.boot, 1
        for _ in range(WARMUP_BATCHES):
            self._batch()
        self.setup_parts = {"wal_s": t1 - t0, "bootstrap_s": t2 - t1,
                            "warmup_s": time.perf_counter() - t2}

    def _next_input(self):
        lo = self.next_seq
        return _seq_window(self.wal, lo, lo + self.bs)

    def _batch(self, batch_df=None):
        from tap_rest_api_msdk_spark.streaming.pipeline import process_batch

        df = self._next_input() if batch_df is None else batch_df
        stats = process_batch(self.table, self.conf, df, self.next_id)
        if stats.get("skipped"):
            raise CheckFailed(f"steady batch {self.next_id} skipped: {stats}")
        self.next_seq, self.next_id = self.next_seq + self.bs, self.next_id + 1

    def before_op(self, i):
        # the source hands the batch over ready: only process_batch is timed
        self.pending = self._next_input()

    def op(self, i):
        self._batch(self.pending)
        return self.bs

    def done(self, i, elapsed):
        # whole fold cycles only, so every run carries the same fold share
        n = i + 1
        if n >= self.max_batches:
            return True
        return n % self.fold_every == 0 and _near(elapsed, n // self.fold_every, self.ctx.seconds)

    def named_metrics(self, ops) -> dict:
        secs = [o["s"] for o in ops]
        return {"steady_events_per_s": sum(o["units"] for o in ops) / sum(secs),
                "steady_batch_p50_s": statistics.median(secs), "batches": len(ops)}

    def check(self):
        """The table's live state equals an independent LWW over the WAL."""
        from perfbench.oracle import lww_oracle, table_digest

        want = lww_oracle(os.path.join(self.wal_path, "*.parquet"), self.next_seq)
        got = table_digest(self.table.to_df(drop_deletes=True))
        if got != want:
            raise CheckFailed(f"state (rows, digest) {got} != oracle {want}")

    def input_bytes(self, events):
        return self.wal_bytes * events / self.wal_events

    def isolated_inputs(self):
        lo = self.boot
        return _seq_window(self.wal, lo, lo + self.bs), self.conf

    def untraced_probe(self) -> list:
        """READ_CHAIN more batches, timed with tracing off (the comparison
        for tracing overhead). After WARMUP_BATCHES and whole fold cycles,
        these extend a chain WARMUP_BATCHES long, so none of them folds and
        the table is left carrying unfolded deltas."""
        self.chain = (self.next_seq, self.table.current_manifest()["version"])
        times = []
        for _ in range(READ_CHAIN):
            self.before_op(-1)
            t0 = time.perf_counter()
            self.op(-1)
            times.append(time.perf_counter() - t0)
        return times

    def read_probe(self) -> TableReads:
        """Checked reads over the table as the untraced probe left it."""
        lo, v_from = self.chain
        bounds = [(lo + j * self.bs, lo + (j + 1) * self.bs) for j in range(READ_CHAIN)]
        return TableReads(self.table, self.wal_path, self.next_seq, bounds, v_from)


class TableReads:
    """The four reads of the read path over one table, each checked against
    an expected answer computed once outside the timed region."""

    READS = ("snapshot", "since", "lookup", "changes")

    def __init__(self, table, wal_path, seq_hi, bounds, v_from):
        from perfbench.oracle import batch_winners_oracle, lww_oracle

        self.table = t = table
        self.since, self.v_from = bounds[-1][0], v_from
        spark = t.spark
        wal = spark.read.parquet(wal_path)
        # hot key: the hottest repo's most recently written path
        hot = (_seq_window(wal, 0, seq_hi).filter(F.col("repo") == "org/repo-0000")
               .orderBy(F.col("seq").desc()).select("repo", "path").first())
        self.key = {"repo": hot["repo"], "path": hot["path"]}
        # engine twins are unpruned full scans; DuckDB gives the LWW state
        # and the change rows independently
        wal_glob = os.path.join(wal_path, "*.parquet")
        full = t.to_df()
        self.files_total = t.stats()["files"]
        self.want = {
            "snapshot": lww_oracle(wal_glob, seq_hi)[0],
            "since": full.filter(F.col("seq") >= self.since).count(),
            "lookup": sorted(map(tuple, full.filter(
                (F.col("repo") == self.key["repo"]) & (F.col("path") == self.key["path"])
            ).collect())),
            "changes": batch_winners_oracle(wal_glob, bounds),
        }

    def _read(self, kind):
        """(action over the lazy result, scan accounting) of one read type;
        the call that builds the lazy result is the read's plan step."""
        t = self.table
        if kind in ("snapshot", "since"):
            df = t.to_df() if kind == "snapshot" else t.read_since(self.since)
            return df.count, {k: t.last_read_plan[k] for k in ("files_scanned", "files_total")}
        if kind == "lookup":
            df = t.lookup(self.key)
            st = t.last_lookup_stats
            return (lambda: sorted(map(tuple, df.collect())),
                    {"files_scanned": st["candidate_files"], "files_total": st["bucket_files"]})
        df = t.changes_since(self.v_from)
        return df.count, {"files_scanned": len(df.inputFiles()), "files_total": self.files_total}

    def run(self) -> dict:
        out = {}
        for kind in self.READS:
            t0 = time.perf_counter()
            action, plan = self._read(kind)
            t1 = time.perf_counter()
            got = action()
            out[kind] = {"plan": t1 - t0, "exec": time.perf_counter() - t1, **plan}
            if got != self.want[kind]:
                raise CheckFailed(f"read {kind}: {got!r} != {self.want[kind]!r}")
        return out


class QuerySuite:
    """The registered queries listed in QUERIES over the fixed tables in
    data/ with a noop sink. The seed does not apply: the tables are fixed."""

    name = "query_suite"

    def __init__(self, ctx):
        self.ctx = ctx

    def setup(self):
        import __spark_entry__ as entry

        from perfbench.oracle import QueryOracle

        ctx = self.ctx
        self.names = SMOKE_QUERIES if ctx.smoke else QUERIES
        self.qmap = entry.queries()
        self.data = os.path.join(ctx.bench_dir, "data")
        self.last = {}
        # the warm-up pass, which is also the output check: every query's
        # rows must equal its DuckDB oracle twin. The first timed pass after
        # it still runs ~20% slower (JIT); the loop's median over 3+ passes
        # absorbs that
        oracle = QueryOracle(ctx.repo_root, self.data, entry.oracle_sql())
        self.bad = []
        try:
            for name in self.names:
                try:
                    ok = oracle.matches(name, self.qmap[name](ctx.spark, self.data).toPandas())
                except Exception:  # reported, and the final check fails
                    traceback.print_exc(file=sys.stderr)
                    ok = False
                if not ok:
                    self.bad.append(name)
        finally:
            oracle.close()

    def op(self, i):
        tracer = self.ctx.tracer if self.ctx.tracer and self.ctx.tracer.enabled else None
        self.last = {}
        for name in self.names:
            t0 = time.perf_counter()
            if tracer:
                with tracer.span(f"query.{name}"):
                    df = self.qmap[name](self.ctx.spark, self.data)
                    plan_s = _plan_seconds(df)
                    df.write.format("noop").mode("overwrite").save()
            else:
                self.qmap[name](self.ctx.spark, self.data).write.format("noop").mode("overwrite").save()
                plan_s = 0.0
            self.last[name] = (time.perf_counter() - t0, plan_s)
        return len(self.names)

    def op_record(self):
        return {"queries": dict(self.last)}

    def named_metrics(self, ops) -> dict:
        return {"query_suite_s": statistics.median(o["s"] for o in ops), "passes": len(ops),
                "queries": len(self.names)}

    def untraced_probe(self) -> list:
        """One more pass with tracing off (the comparison for tracing overhead)."""
        t0 = time.perf_counter()
        self.op(-1)
        return [time.perf_counter() - t0]

    def done(self, i, elapsed):
        # an odd count of at least three, so one disturbed pass is not the median
        n = i + 1
        return n >= 3 and n % 2 == 1 and _near(elapsed, n, self.ctx.seconds)

    def check(self):
        if self.bad:
            raise CheckFailed(f"queries differ from their oracle: {self.bad}")


def _plan_seconds(df) -> float:
    """Analysis + optimization + planning time from the query's own
    QueryExecution tracker (planning is forced here, before execution)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1e3


WORKLOADS = {w.name: w for w in (SteadyCdc, QuerySuite)}
