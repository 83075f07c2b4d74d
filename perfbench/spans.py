"""Benchmark-side tracing: spans kept in memory, and Spark job/stage
counters read back from the status store and attributed to them.

No tracing code enters the package.  Spans come from wrappers this
module installs around public entry points (``Tracer.patch``), from a
delegating sink proxy (``TracedSink``) and from explicit ``span`` blocks
in the workloads.  Counters come from ``sc._jsc.sc().statusStore()``
over py4j after the run, so reading them costs nothing inside a timed
window.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time

import stats


class Tracer:
    """Spans: ``{id, name, op, parent, t0, t1}`` in wall-clock seconds.

    ``op`` groups the spans of one trigger or one registry query.  The
    parent is the innermost open span of the calling thread (the
    ``foreachBatch`` body runs on a py4j callback thread, not the main
    one)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            s = {
                "id": next(self._ids),
                "name": name,
                "op": op if op is not None else (parent or {}).get("op"),
                "parent": parent["id"] if parent else None,
                "t0": time.time(),
                "t1": None,
            }
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s["t1"] = time.time()
            stack.pop()

    def patch(self, module, attr: str, name: str, new_op: bool = False):
        """Replace ``module.attr`` with a spanning wrapper until
        ``unpatch``.  ``new_op`` starts a fresh op id per call."""
        orig = getattr(module, attr)
        count = itertools.count()

        def wrapper(*a, **kw):
            op = f"{name}#{next(count)}" if new_op else None
            with self.span(name, op=op):
                return orig(*a, **kw)

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, orig))

    def unpatch(self) -> None:
        while self._restore:
            module, attr, orig = self._restore.pop()
            setattr(module, attr, orig)


class TracedSink:
    """Delegating proxy around an upsert sink: one span per ``upsert``
    named ``sinks.upsert.<table>``; everything else (including
    ``uses_partition_hints``, which the runner reads) is forwarded."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer
        self.uses_partition_hints = getattr(inner, "uses_partition_hints", True)

    def upsert(self, df, table, keys, mode="ignore", touched_partitions=None):
        with self._tracer.span(f"sinks.upsert.{table}"):
            return self._inner.upsert(
                df, table, keys, mode=mode, touched_partitions=touched_partitions
            )

    def __getattr__(self, name):
        return getattr(self._inner, name)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def harvest_jobs(spark) -> list[dict]:
    """Every job the status store retains, with its stages' counters.
    Skipped stages (never attempted) contribute nothing."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    seen_stages: set[int] = set()
    for i in range(jobs.size()):
        j = jobs.apply(i)
        t0, t1 = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
        if t0 is None:
            continue
        rec = {
            "job": j.jobId(),
            "t0": t0,
            "t1": t1 if t1 is not None else t0,
            "stages": 0,
            "tasks": 0,
            "cpu_s": 0.0,
            "shuffle_write_bytes": 0,
            "shuffle_stages": 0,
            "spill_bytes": 0,
            "input_bytes": 0,
            "output_bytes": 0,
        }
        ids = j.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid in seen_stages:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: never attempted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            seen_stages.add(sid)
            rec["stages"] += 1
            rec["tasks"] += st.numCompleteTasks()
            rec["cpu_s"] += st.executorCpuTime() / 1e9
            sw = st.shuffleWriteBytes()
            rec["shuffle_write_bytes"] += sw
            rec["shuffle_stages"] += 1 if sw > 0 else 0
            rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            rec["input_bytes"] += st.inputBytes()
            rec["output_bytes"] += st.outputBytes()
        out.append(rec)
    return out


COUNTERS = (
    "jobs", "stages", "tasks", "cpu_s", "shuffle_write_bytes",
    "shuffle_stages", "spill_bytes", "input_bytes", "output_bytes",
)


def attribute(spans: list[dict], jobs: list[dict]) -> dict[int, dict]:
    """Per span id: the counters of the jobs submitted while it was the
    innermost open span (``self`` counters), their durations
    (``job_s``), and ``job_union_s``: the part of the span's interval
    that any of its jobs covers."""
    closed = [s for s in spans if s["t1"] is not None]
    out = {s["id"]: {c: 0 for c in COUNTERS} | {"_iv": []} for s in closed}
    for j in jobs:
        inner = None
        for s in closed:
            if s["t0"] <= j["t0"] <= s["t1"] and (
                inner is None or s["t0"] >= inner["t0"]
            ):
                inner = s
        if inner is None:
            continue
        agg = out[inner["id"]]
        agg["jobs"] += 1
        for c in COUNTERS[1:]:
            agg[c] += j[c]
        agg["_iv"].append((j["t0"], j["t1"]))
    for s in closed:
        agg = out[s["id"]]
        agg["job_s"] = [b - a for a, b in agg["_iv"]]
        iv = [x for x in (stats.clip(v, s["t0"], s["t1"]) for v in agg.pop("_iv")) if x]
        agg["job_union_s"] = stats.union_length(iv)
    return out


def subtree(spans: list[dict], root_id: int) -> list[dict]:
    """The span and all its descendants."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [s for s in spans if s["id"] == root_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo += kids.get(s["id"], [])
    return out


def rollup(spans: list[dict], per_span: dict[int, dict], root_id: int) -> dict:
    """Counters summed over a span's subtree, its jobs' durations, and
    its driver gap (span time that no job covers)."""
    tree = subtree(spans, root_id)
    root = tree[0]
    tot = {c: sum(per_span[s["id"]][c] for s in tree) for c in COUNTERS}
    tot["job_s"] = [d for s in tree for d in per_span[s["id"]]["job_s"]]
    wall = root["t1"] - root["t0"]
    covered = sum(per_span[s["id"]]["job_union_s"] for s in tree)
    tot["wall_s"] = wall
    tot["driver_gap_s"] = max(0.0, wall - covered)
    return tot
