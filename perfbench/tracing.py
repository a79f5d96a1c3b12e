"""Traced-run instrumentation, installed from the benchmark's own files.

``Tracer.install`` wraps each layer's entry function at runtime; nothing
under ``cnosdb_spark/`` is edited. The layers and their boundaries:

==========================  ==============================================
span name                   wrapped function
==========================  ==============================================
``sources.parse``           ``sources.line_protocol.lines_to_tables``
``catalog.insert``          ``Catalog.insert``
``engine.register_views``   ``Engine._register_views``
``catalog.read``            ``Catalog.read`` (view (re)builds)
``engine.sql``              ``Engine.sql``
``rewriter.rewrite``        ``engine.rewrite_dql``
``spark.execute``           ``DataFrame.toArrow``, each step of
                            ``DataFrame.toLocalIterator``
``transport``               ``Engine.sql_arrow``, ``Engine.sql_arrow_stream``
                            and each step of the stream it returns
==========================  ==============================================

A wrapper records a span only while ``active`` is set, so one run can
alternate traced and untraced ops. A span holds its name, start, end, its
parent span and the op id every span of one op shares. Spans stay in
memory until ``dump``. Each traced op also runs under its own Spark job
group; its job, stage and task counts are read back from
``statusTracker()`` once the listener bus has drained.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[dict] = []
        self.ops: list[dict] = []  # one entry per traced op
        self._stack: list[int] = []
        self._op: dict | None = None

    # ------------------------------------------------------------ spans
    def _open(self, name: str) -> dict:
        span = {
            "op": self._op["id"],
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()

    def _call(self, name: str, fn, *args, **kwargs):
        if not self.active:
            return fn(*args, **kwargs)
        span = self._open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self._close(span)

    def _iter(self, name: str, it):
        """Yield from ``it``, each step in its own ``name`` span."""
        it = iter(it)
        while True:
            try:
                item = self._call(name, next, it)
            except StopIteration:
                return
            yield item

    # ---------------------------------------------------------- wrapping
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def _wrap(self, owner, attr: str, name: str) -> None:
        self._patch(owner, attr, lambda f: lambda *a, **k: self._call(name, f, *a, **k))

    def _wrap_iter(self, owner, attr: str, name: str) -> None:
        """Wrap a function returning an iterator: the call and every step
        of the iterator it returns are ``name`` spans."""
        self._patch(
            owner, attr,
            lambda f: lambda *a, **k: self._iter(name, self._call(name, f, *a, **k)),
        )

    def install(self) -> None:
        """Wrap the layer boundaries for the rest of the process."""
        from pyspark.sql.classic.dataframe import DataFrame

        from cnosdb_spark import engine
        from cnosdb_spark.catalog import Catalog
        from cnosdb_spark.sources import line_protocol

        self._wrap(line_protocol, "lines_to_tables", "sources.parse")
        self._wrap(Catalog, "insert", "catalog.insert")
        self._wrap(Catalog, "read", "catalog.read")
        self._wrap(engine.Engine, "_register_views", "engine.register_views")
        self._wrap(engine.Engine, "sql", "engine.sql")
        self._wrap(engine, "rewrite_dql", "rewriter.rewrite")
        self._wrap(DataFrame, "toArrow", "spark.execute")
        self._wrap_iter(DataFrame, "toLocalIterator", "spark.execute")
        self._wrap(engine.Engine, "sql_arrow", "transport")
        self._wrap_iter(engine.Engine, "sql_arrow_stream", "transport")

    # --------------------------------------------------------------- ops
    def begin_op(self, kind: str, label: str) -> None:
        """Start a traced op: a root span and a Spark job group of its own."""
        self._op = {"id": len(self.ops), "kind": kind, "label": label}
        self.sc.setJobGroup(f"perfbench-{self._op['id']}", label, False)
        self.active = True
        self._root = self._open("op")

    def end_op(self, **facts) -> dict:
        self._close(self._root)
        self.active = False
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        op = self._op
        op.update(facts)
        op.update(self._spark_counts(f"perfbench-{op['id']}"))
        self.ops.append(op)
        self._op = None
        return op

    def _spark_counts(self, group: str) -> dict:
        # job/stage/task end events reach the status store through the
        # asynchronous listener bus: drain it so the counts are final
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped stage: its output was reused
                stages += 1
                tasks += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}

    # --------------------------------------------------------- reduction
    def self_times(self) -> dict[int, dict[str, float]]:
        """op id -> {span name: self time}. A span's self time is its
        duration minus the durations of its direct children (children of
        one span never overlap: the client is single-threaded)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            out[s["op"]][s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def span_counts(self) -> dict[int, dict[str, int]]:
        out: dict[int, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        for s in self.spans:
            out[s["op"]][s["name"]] += 1
        return out

    def dump(self, path: str) -> None:
        """Write every op and span as JSON lines."""
        with open(path, "w") as f:
            for op in self.ops:
                f.write(json.dumps({"type": "op", **op}) + "\n")
            for s in self.spans:
                f.write(json.dumps({"type": "span", **s}) + "\n")
