"""Spans around the package's layer functions, patched in from here.

A span records a name, start, end, parent span and a shared trace id (a
streaming query + batch id, or a catalog query + pass).  Spans are kept in
memory and written out once, when the run ends.  Parents are tracked per
thread, because the warehouse runs several streaming queries at once and
each foreachBatch body runs on its own callback thread.

Nothing in the package is edited: ``layer_patches`` swaps module and
class attributes for wrappers and ``Patches.restore`` puts them back, so
an untraced pass and a traced pass can run in one session.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, *args, trace: str | None = None, attrs=None, **kwargs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = {"id": next(self._ids), "name": name,
                "parent": parent["id"] if parent else None,
                "trace": parent["trace"] if parent else trace,
                "thread": threading.get_ident(), **(attrs or {})}
        stack.append(span)
        span["start"] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(span)

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover.
        Children run on their parent's thread, one after another, so
        their intervals do not overlap and the subtraction is exact."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def by_name(self, name: str) -> list[dict]:
        return sorted((s for s in self.spans if s["name"] == name), key=lambda s: s["start"])

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = [dict(s, start=round(s["start"] - t0, 6), end=round(s["end"] - t0, 6))
               for s in sorted(self.spans, key=lambda s: s["start"])]
        with open(path, "w") as fh:
            json.dump({"spans": out, "counts": dict(self.counts)}, fh, indent=0)


class Patches:
    """Attribute swaps that ``restore`` undoes in reverse order."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def swap(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def restore(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)


def _new_bytes(path: str, since: float) -> int:
    """Bytes of files under ``path`` written at or after ``since`` (epoch s):
    the size of the version a merge just committed."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            if st.st_mtime >= since:
                total += st.st_size
    return total


def layer_patches(tracer: Tracer) -> Patches:
    """Wrap the public functions of each warehouse layer in spans."""
    from flink_realtime_dw4_0_spark.operators import state as state_ops
    from flink_realtime_dw4_0_spark.sinks.dim import DimWarehouse
    from flink_realtime_dw4_0_spark.sinks.upsert import KeyedTable
    from flink_realtime_dw4_0_spark.streaming import warehouse as wh_mod
    from flink_realtime_dw4_0_spark.streaming.dwd_trade import OrderDetailJoin

    p = Patches()

    def batch_body(name: str, fn):
        """A foreachBatch body: a root span whose trace id is the batch."""
        def body(batch, batch_id):
            return tracer.call(name, fn, batch, batch_id, trace=f"{name}:{batch_id}")
        return body

    def traced_factory(name: str):
        """Wrap a factory whose product is a foreachBatch body."""
        def make(orig):
            def factory(*a, **k):
                return batch_body(name, orig(*a, **k))
            return factory
        return make

    def traced(name: str):
        def make(orig):
            def fn(*a, **k):
                return tracer.call(name, orig, *a, **k)
            return fn
        return make

    p.swap(wh_mod.Warehouse, "db_foreach_batch", traced_factory("warehouse.db_batch"))
    p.swap(wh_mod.Warehouse, "log_foreach_batch", traced_factory("warehouse.log_batch"))
    p.swap(wh_mod, "dim_foreach_batch", traced_factory("dim.batch"))
    p.swap(wh_mod, "dwd_log_foreach_batch", traced_factory("dwd_log.batch"))
    p.swap(wh_mod, "serving_foreach_batch", traced_factory("serving.batch"))

    def route_writers(orig):
        def factory(out_root, routes):
            writers = orig(out_root, routes)
            return {r: (lambda w, r: lambda df, bid: tracer.call(
                "dwd_log.route_write", w, df, bid, attrs={"route": r}))(w, r)
                for r, w in writers.items()}
        return factory

    p.swap(wh_mod, "parquet_route_writers", route_writers)
    p.swap(DimWarehouse, "merge_dim_batch", traced("dim.merge"))
    p.swap(OrderDetailJoin, "process_batch", traced("dwd_trade.join"))
    p.swap(state_ops, "visitor_fix_batch", traced("state.visitor_fix"))

    def merge(orig):
        def fn(self, spark, batch, *a, **k):
            since = time.time()
            out = tracer.call("upsert.merge", orig, self, spark, batch, *a, attrs={
                "table": os.path.basename(self.path)}, **k)
            tracer.count("upsert.bytes_written", _new_bytes(self.path, since))
            return out
        return fn

    def read(orig):
        def fn(self, *a, **k):
            tracer.count("upsert.read_calls")
            return orig(self, *a, **k)
        return fn

    p.swap(KeyedTable, "merge", merge)
    p.swap(KeyedTable, "read", read)
    return p


# ------------------------------------------------------------ Spark event log
def _event_files(log_dir: str) -> list[str]:
    """Event files in write order.  A rolling log (the Spark 4 default) is
    a directory of ``events_<n>_<app>`` files beside an ``appstatus``
    marker; a plain log is one file."""
    out = []
    for base, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith("events_"):
                out.append((int(f.split("_")[1]), os.path.join(base, f)))
            elif not f.startswith("appstatus") and not f.startswith("."):
                out.append((0, os.path.join(base, f)))
    return [p for _, p in sorted(out)]


def read_event_log(log_dir: str) -> dict:
    """Jobs and stages from the Spark event log of this run.

    Returns ``{"jobs": {job_id: {"props", "stages"}}, "stages": {stage_id:
    {"cpu_ns", "shuffle_write", "spill", "task_ms": [...]}}}``.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: {"cpu_ns": 0, "shuffle_write": 0, "spill": 0,
                                                   "task_ms": []})
    for path in _event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"props": ev.get("Properties") or {},
                                          "stages": ev.get("Stage IDs", [])}
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    st = stages[ev["Stage ID"]]
                    st["task_ms"].append(info["Finish Time"] - info["Launch Time"])
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    return {"jobs": jobs, "stages": dict(stages)}


def jobs_per_batch(log: dict, query_id: str) -> dict[int, int]:
    """Exact Spark job count per micro-batch of one streaming query."""
    out: Counter = Counter()
    for job in log["jobs"].values():
        props = job["props"]
        if props.get("sql.streaming.queryId") == query_id and "streaming.sql.batchId" in props:
            out[int(props["streaming.sql.batchId"])] += 1
    return dict(out)


def jobs_in_group(log: dict, prefix: str) -> list[dict]:
    return [j for j in log["jobs"].values()
            if str(j["props"].get("spark.jobGroup.id", "")).startswith(prefix)]
