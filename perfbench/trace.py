"""Spans around the engine's public functions, and Spark event-log joins.

The benchmark wraps module attributes from outside the package: the
engine's own code is unchanged, and every call it makes through a wrapped
name (``process_batch`` calling ``prepare_batch``, ``merge_upsert`` calling
``fold_due`` on ``self``) is recorded. A span is ``(id, layer, start, end,
parent, op)``; spans stay in memory and are written once at exit.

While a span is open on a thread, Spark jobs launched from that thread
carry the span id as their job description, so the event log attributes
each job's task metrics to the innermost open span. Jobs launched from a
thread with no open span (the pipeline's own lineage thread) carry no
description and are reported as unattributed, never guessed.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Optional

# (module path, attribute, layer name). Layer names match the per-layer
# metric prefixes in BENCHMARK.json.
WRAPPED = [
    ("tap_rest_api_msdk_spark.streaming.pipeline", "process_batch", "pipeline.batch"),
    ("tap_rest_api_msdk_spark.streaming.pipeline", "prepare_batch", "flatten.plan"),
    ("tap_rest_api_msdk_spark.sources.reader", "infer_payload_struct", "infer.sample"),
    ("tap_rest_api_msdk_spark.streaming.pipeline", "lineage_metrics", "lineage.plan"),
    ("tap_rest_api_msdk_spark.streaming.pipeline", "append_metrics_rows", "lineage.append"),
]
WRAPPED_METHODS = [
    ("merge_upsert", "laketable.merge_upsert"),
    ("fold_due", "laketable.fold"),
    ("current_manifest", "laketable.manifest_read"),
]


@dataclass
class Span:
    id: int
    layer: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    op: int = -1
    children: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; ``op`` tags spans with the index of
    the benchmark operation that caused them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.op = -1
        self.spans: list[Span] = []
        self._local = threading.local()

    # -- span bookkeeping ----------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, layer: str) -> Optional[Span]:
        if not self.enabled:
            return None
        st = self._stack()
        parent = st[-1] if st else None
        sp = Span(len(self.spans), layer, time.time(), parent=parent.id if parent else None,
                  op=self.op)
        self.spans.append(sp)
        if parent:
            parent.children.append(sp.id)
        st.append(sp)
        self.sc.setJobDescription(f"span:{sp.id}")
        return sp

    def close(self, sp: Optional[Span]) -> None:
        if sp is None:
            return
        sp.end = time.time()
        st = self._stack()
        st.pop()
        self.sc.setJobDescription(f"span:{st[-1].id}" if st else None)

    @contextlib.contextmanager
    def span(self, layer: str):
        sp = self.open(layer)
        try:
            yield sp
        finally:
            self.close(sp)

    # -- wrapping ------------------------------------------------------
    def _wrap(self, fn, layer):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sp = tracer.open(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(sp)

        return wrapper

    def install(self) -> None:
        """Wrap the engine's functions for the rest of this process."""
        import importlib

        from tap_rest_api_msdk_spark.streaming.laketable import LakeTable

        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self._wrap(getattr(mod, attr), layer))
        for attr, layer in WRAPPED_METHODS:
            setattr(LakeTable, attr, self._wrap(getattr(LakeTable, attr), layer))

    # -- derived numbers -----------------------------------------------
    def self_time(self, sp: Span) -> float:
        return sp.wall - sum(self.spans[c].wall for c in sp.children)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


# ----------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------
@dataclass
class Job:
    id: int
    start: float
    end: float
    span: Optional[int]
    stages: list
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    fetch_wait_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


def _event_lines(log_dir: str):
    """Events of the one application logged under ``log_dir``, in order:
    a single file, or a rolling log's ``events_<n>_<app>`` parts."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    part = lambda p: int(os.path.basename(p).split("_")[1]) if os.path.basename(  # noqa: E731
        p).startswith("events_") else 0
    for p in sorted(paths, key=part):
        with open(p) as fh:
            yield from fh


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their task metrics summed, from a Spark JSON event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in _event_lines(log_dir):
        # job and task events only: the SQL plan events dwarf them
        if not line.startswith(('{"Event":"SparkListenerJob', '{"Event":"SparkListenerTaskEnd"')):
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            span = int(desc[5:]) if desc.startswith("span:") else None
            j = Job(ev["Job ID"], ev["Submission Time"] / 1e3, 0.0, span, ev["Stage IDs"])
            jobs[j.id] = j
            for s in j.stages:
                stage_job[s] = j.id
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev.get("Stage ID")))
            m = ev.get("Task Metrics")
            if j is None or not m:
                continue
            j.tasks += 1
            j.run_s += m.get("Executor Run Time", 0) / 1e3
            j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            j.gc_s += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            j.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
            j.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            j.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            j.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            j.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            j.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for j in jobs.values():
        j.end = j.end or j.start
    return sorted(jobs.values(), key=lambda j: j.start)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
