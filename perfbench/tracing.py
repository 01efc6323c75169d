"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's side: :func:`install` wraps the
engine's public layer functions at every module attribute that binds
them, so a query module that did ``from ..data import load_table`` is
traced too (patching only ``data.load_table`` would miss it). Each span
keeps (name, start, end, parent, op id) in memory; :meth:`Tracer.dump`
writes them out when the run ends.

Spark's scheduler is read through the public ``statusTracker``: after
each op a marker job runs under its own job group, and once the marker
shows as finished every job id between the previous marker and this
one belongs to the op (job ids are sequential and the status store
handles events in order), streaming micro-batch jobs included.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict

PACKAGE = "big_data_final_project_spark"

# (module, function) -> span name. The span name's first component is
# the layer.
LAYER_FUNCTIONS = {
    ("session", "get_spark"): "session.get_spark",
    ("data", "load_table"): "data.load_table",
    ("operators.scale", "materialize"): "scale.materialize",
    ("operators.scale", "session_cached"): "scale.session_cached",
    ("operators.scale", "spread"): "scale.spread",
    ("streaming.pipeline", "read_event_stream"): "streaming.read_event_stream",
    ("streaming.pipeline", "split_valid"): "streaming.split_valid",
    ("streaming.pipeline", "persist_stream"): "streaming.persist",
    ("streaming.pipeline", "maintain_latest_view"): "streaming.latest_view",
    ("streaming.pipeline", "read_store"): "streaming.read_store",
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self.bookkeeping_s: dict[int | None, float] = defaultdict(float)
        self.cache_builds: dict[int | None, int] = defaultdict(int)

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_bench__ = fn
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Span:
    __slots__ = ("t", "name", "idx", "start")

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self):
        w0 = time.perf_counter()
        t = self.t
        self.idx = len(t.spans)
        t.spans.append(
            {
                "name": self.name,
                "op": t.op_id,
                "parent": t._stack[-1] if t._stack else None,
            }
        )
        t._stack.append(self.idx)
        self.start = time.perf_counter()
        t.bookkeeping_s[t.op_id] += self.start - w0
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.t
        rec = t.spans[self.idx]
        rec["start"], rec["end"] = self.start, end
        if exc[0] is not None:
            rec["error"] = exc[0].__name__
        t._stack.pop()
        t.bookkeeping_s[t.op_id] += time.perf_counter() - end
        return False


def install(tracer: Tracer) -> None:
    """Replace every module-level binding of the layer functions in the
    engine's loaded modules with a tracing wrapper. Import the query
    registry first so its modules are loaded and get patched."""
    import importlib

    originals = {}
    for (mod, fn), name in LAYER_FUNCTIONS.items():
        obj = getattr(importlib.import_module(f"{PACKAGE}.{mod}"), fn)
        obj = getattr(obj, "__wrapped_by_bench__", obj)
        wrapped = tracer.wrap(obj, name)
        if name == "scale.session_cached":
            wrapped = _count_cache_builds(tracer, wrapped)
        originals[id(obj)] = wrapped
    for mname, module in list(sys.modules.items()):
        if module is None or not (mname == PACKAGE or mname.startswith(PACKAGE + ".")):
            continue
        for attr, val in list(vars(module).items()):
            if id(val) in originals:
                setattr(module, attr, originals[id(val)])


def _count_cache_builds(tracer: Tracer, cached):
    """session_cached(spark, key, build): a lookup that calls ``build``
    is a miss; every other lookup is a hit."""

    @functools.wraps(cached)
    def counted(spark, key, build):
        def counted_build():
            tracer.cache_builds[tracer.op_id] += 1
            return build()

        return cached(spark, key, counted_build)

    return counted


class JobCounter:
    """Jobs, stages and tasks the engine ran per op, via statusTracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._marks = 0
        self.next_job = self._marker() + 1

    def _marker(self) -> int:
        self._marks += 1
        group = f"bench-marker-{self._marks}"
        self.sc.setJobGroup(group, "benchmark op boundary")
        self.sc.parallelize([0], 1).count()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            ids = self.tracker.getJobIdsForGroup(group)
            if ids:
                info = self.tracker.getJobInfo(ids[0])
                if info is not None and info.status == "SUCCEEDED":
                    return ids[0]
            time.sleep(0.005)
        raise RuntimeError("status tracker did not report the marker job")

    def start_op(self, op_id: int) -> None:
        self.sc.setJobGroup(f"bench-op-{op_id}", "benchmark op")

    def end_op(self) -> dict:
        mark = self._marker()
        jobs = stages = tasks = failed = 0
        for jid in range(self.next_job, mark):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue
                ran = st.numCompletedTasks + st.numFailedTasks
                if ran:
                    stages += 1
                    tasks += ran
                    failed += st.numFailedTasks
        self.next_job = mark + 1
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def self_times(spans: list[dict]) -> dict[tuple, float]:
    """(op id, layer) -> self seconds: each span's duration minus the
    time its child spans cover (children run nested in one thread)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and "end" in s:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[tuple, float] = defaultdict(float)
    for i, s in enumerate(spans):
        if "end" in s:
            layer = s["name"].split(".", 1)[0]
            out[(s["op"], layer)] += s["end"] - s["start"] - child[i]
    return out
