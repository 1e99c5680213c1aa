"""Spans and job attribution for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side only:

- *top-level spans* wrap each call the benchmark makes into the program
  (``DataLoadManager.run``, ``StreamingIngest.run_until_caught_up``,
  ``read_keys``, ``read``). Each carries its own Spark job group, and its
  job count is read from ``statusTracker()`` when it ends;
- *layer spans* wrap program methods on the class for the life of the run
  (``SnapshotTable.merge`` …, see ``LAYER_METHODS``) without changing their
  behaviour;
- *action records* wrap the four PySpark calls that launch jobs in the
  ingest path (``DataFrame.collect``, ``DataFrameWriter.parquet``/``save``,
  ``DataFrameReader.parquet`` — the last one runs the parallel file
  listing). Each records the action, the innermost program function on the
  Python stack (its *site*) and the innermost layer span, and tags the jobs
  it launches with a local property, so the event log ties every job to
  (top span, layer, action, site) by name rather than by line number.

Spark's event log (enabled only in traced runs) supplies per-job wall time,
shuffle bytes and GC time. Everything stays in memory and is reduced to
metrics when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"
ACTION_PROP = "perfbench.action"

# (layer span name, module, class, method) wrapped for a traced run
LAYER_METHODS = (
    ("plans.run", "relational_data_loader_spark.plans.manager", "DataLoadManager", "run"),
    ("sinks.merge", "relational_data_loader_spark.sinks.snapshot", "SnapshotTable", "merge"),
    ("sinks.compact", "relational_data_loader_spark.sinks.snapshot", "SnapshotTable", "compact_deltas"),
    ("sinks.full_refresh", "relational_data_loader_spark.sinks.snapshot", "SnapshotTable", "full_refresh"),
    ("sinks.full_refresh", "relational_data_loader_spark.sinks.snapshot", "SnapshotTable",
     "full_refresh_from_envelopes"),
    ("state.append", "relational_data_loader_spark.state", "StateTable", "append"),
    ("streaming.apply", "relational_data_loader_spark.streaming.runner", "StreamingIngest", "apply_batch"),
)


def _program_dir() -> str:
    import relational_data_loader_spark as pkg

    return os.path.dirname(os.path.abspath(pkg.__file__))


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.actions: list[dict] = []
        self.group_jobs: dict[str, int] = {}
        self._local = threading.local()
        self._top: str | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._pkg = _program_dir()

    # ---- spans -----------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _new_id(self, prefix: str) -> str:
        with self._lock:
            return f"{prefix}{next(self._ids)}"

    @contextmanager
    def top(self, name: str, **attrs):
        """A benchmark call into the program: own job group + span tag.
        The span tag is a local property, which the streaming query's
        execution thread inherits when the poll starts it."""
        sid = self._new_id("t")
        rec = {"id": sid, "name": name, "top": sid, **attrs}
        self.sc.setJobGroup(sid, name)
        self.sc.setLocalProperty(SPAN_PROP, sid)
        self._top = sid
        self._stack().append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack().pop()
            self._top = None
            for prop in (SPAN_PROP, "spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(prop, None)
            self.group_jobs[sid] = len(
                self.sc.statusTracker().getJobIdsForGroup(sid)
            )
            self.spans.append(rec)

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = {
            "id": self._new_id("s"),
            "name": name,
            "top": self._top,
            "parent": stack[-1]["name"] if stack else None,
        }
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    # ---- instrumentation -------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        original = owner.__dict__[attr]
        self._patched.append((owner, attr, original))
        setattr(owner, attr, functools.wraps(original)(wrapper(original)))

    def install(self, spark) -> None:
        import importlib

        for name, mod, cls, meth in LAYER_METHODS:
            owner = getattr(importlib.import_module(mod), cls)

            def layer(fn, name=name):
                def traced(*a, **kw):
                    with self.span(name):
                        return fn(*a, **kw)

                return traced

            self._patch(owner, meth, layer)

        df = spark.range(1)
        for owner, attr, action in (
            (type(df), "collect", "collect"),
            (type(df.write), "parquet", "write"),
            (type(df.write), "save", "save"),
            (type(spark.read), "parquet", "read"),
        ):
            self._patch(owner, attr, lambda fn, action=action: self._action(fn, action))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def _site(self) -> str:
        """Innermost function of the program package on the caller's stack."""
        f = sys._getframe(2)
        while f is not None:
            if f.f_code.co_filename.startswith(self._pkg):
                return f.f_code.co_name
            f = f.f_back
        return ""

    def _action(self, fn, action: str):
        def traced(obj, *a, **kw):
            stack = self._stack()
            rec = {
                "id": self._new_id("a"),
                "action": action,
                "site": self._site(),
                "layer": stack[-1]["name"] if stack else None,
                "layers": [s["name"] for s in stack],
                "top": self._top,
            }
            self.sc.setLocalProperty(ACTION_PROP, rec["id"])
            rec["start"] = time.time()
            try:
                return fn(obj, *a, **kw)
            finally:
                rec["end"] = time.time()
                self.sc.setLocalProperty(ACTION_PROP, None)
                with self._lock:
                    self.actions.append(rec)

        return traced


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per-job facts from an uncompressed Spark event log directory."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    j = jobs[e["Job ID"]] = {
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                        "span": props.get(SPAN_PROP),
                        "action": props.get(ACTION_PROP),
                        "desc": props.get("spark.job.description") or "",
                        "gc_s": 0.0,
                        "shuffle_bytes": 0,
                        "tasks": 0,
                    }
                    for s in e.get("Stage IDs", []):
                        stage_job.setdefault(s, e["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(e.get("Stage ID")))
                    m = e.get("Task Metrics") or {}
                    if j is None:
                        continue
                    j["tasks"] += 1
                    j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    j["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    return jobs


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
