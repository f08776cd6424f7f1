"""Per-layer tracing from outside the engine.

``Tracer`` times spans around the benchmark's own calls and, when
enabled, wraps public functions of the engine's layers (by rebinding
the module attributes their callers look up) and reads Spark's own
counters around each operation:

- jobs, stages and tasks of the operation's job group, through
  ``statusTracker()``;
- shuffle bytes, task time and GC time, as deltas of the status
  store's executor summaries;
- Catalyst analysis + optimization + planning time, from the
  ``QueryPlanningTracker`` of every query execution, delivered by a
  ``QueryExecutionListener`` registered through the py4j callback
  server.

Nothing in the engine is modified on disk; the wrappers live for the
benchmark process only.
"""

from __future__ import annotations

import functools
import importlib
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from time import perf_counter

#: modules that bind ``graph.checkpointed`` by name at import time
CKPT_MODULES = ["graph", "algorithms.pagerank", "algorithms.wcc",
                "operators.bfs", "operators.paths"]
#: RAM-tier kernels the REST reads can reach
RAM_KERNELS = ["ram_bfs", "ram_shortest_paths", "ram_same_neighbors"]
OPS = ["pagerank", "wcc", "read", "write"]
SPARK_FIELDS = ["jobs", "stages", "tasks", "shuffle_mb", "task_s", "gc_s",
                "catalyst_ms"]

#: every per-layer metric, with its unit; a layer a workload does not
#: touch reports 0
LAYER_METRICS = {
    "session.start_s": "s", "tpch.build_s": "s", "alloc.warm_s": "s",
    "setup.warmup_s": "s",
    "pagerank.call_s": "s", "wcc.call_s": "s",
    "pagerank.vertex_index_calls": "count", "pagerank.vertex_index_s": "s",
    "pagerank.rounds": "count", "pagerank.round_s": "s",
    "wcc.rounds": "count", "wcc.round_s": "s",
    "graph.checkpoints": "count", "graph.checkpoint_s": "s",
    "rest.read.call_s": "s", "rest.read.action_s": "s",
    "operators.rounds": "count",
    "ram.reads": "count", "ram.fits_s": "s", "ram.kernel_s": "s",
    "rest.write.call_s": "s", "mutate.upsert_s": "s",
    "graph.edges_plan_nodes": "count",
    **{f"spark.{op}.{f}": {"shuffle_mb": "MB", "task_s": "s", "gc_s": "s",
                           "catalyst_ms": "ms"}.get(f, "count")
       for op in OPS for f in SPARK_FIELDS},
    "traced.setup_s": "s", "traced.ops_per_s": "ops/s",
}


class _PlanningListener:
    """QueryExecutionListener implemented in Python: sums the
    Catalyst phase durations of every successful query execution."""

    def __init__(self) -> None:
        self.ms = 0.0

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            self.ms += it.next()._2().durationMs()

    def onFailure(self, func_name, qe, exception) -> None:
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Spans and counts, kept in memory and summarized at the end.

    ``span`` always records (it is what the untraced run's setup
    split is made of); everything else is active only when
    ``enabled``."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.times: dict[str, list[float]] = defaultdict(list)
        self.counts: Counter = Counter()
        self.kind: str | None = None   # kind of the operation running
        self._marks: list[float] = []  # lazy-checkpoint times in a loop
        self._n_ops = 0
        self._restore: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        t = perf_counter()
        try:
            yield
        finally:
            self.times[name].append(perf_counter() - t)

    # -- wrappers --------------------------------------------------
    def _patch(self, module, attr: str, wrapper) -> None:
        orig = getattr(module, attr)
        self._restore.append((module, attr, orig))
        setattr(module, attr, functools.wraps(orig)(wrapper(orig)))

    def _timed(self, name: str, count: str | None = None):
        def wrapper(orig):
            def call(*a, **kw):
                if self.kind is None:   # warm-up and set-up: not counted
                    return orig(*a, **kw)
                if count:
                    self.counts[count] += 1
                with self.span(name):
                    return orig(*a, **kw)
            return call
        return wrapper

    def _checkpointed(self, orig):
        def call(df, eager=True):
            if self.kind is None:
                return orig(df, eager)
            self.counts["graph.checkpoints"] += 1
            if not eager:
                self._marks.append(perf_counter())
                if self.kind == "read":
                    self.counts["operators.rounds"] += 1
            with self.span("graph.checkpoint"):
                return orig(df, eager)
        return call

    def install(self, spark) -> None:
        """Wrap the layers' public functions and hook Spark's counters."""
        if not self.enabled:
            return
        pkg = "incubator_hugegraph_spark."
        pr = importlib.import_module(pkg + "algorithms.pagerank")
        self._patch(pr, "vertex_index",
                    self._timed("pagerank.vertex_index",
                                "pagerank.vertex_index_calls"))
        for m in CKPT_MODULES:
            self._patch(importlib.import_module(pkg + m), "checkpointed",
                        self._checkpointed)
        ram = importlib.import_module(pkg + "ram")
        self._patch(ram, "ram_fits", self._timed("ram.fits"))
        for k in RAM_KERNELS:
            self._patch(ram, k, self._timed("ram.kernel", "ram.reads"))
        mutate = importlib.import_module(pkg + "operators.mutate")
        self._patch(mutate, "upsert_edges", self._timed("mutate.upsert"))

        from pyspark.java_gateway import ensure_callback_server_started
        sc = spark.sparkContext
        ensure_callback_server_started(sc._gateway)
        self._planning = _PlanningListener()
        self._listeners = spark._jsparkSession.listenerManager()
        self._listeners.register(self._planning)
        self._sc = sc

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()
        if self.enabled:
            self._listeners.unregister(self._planning)

    def _settle(self, bus) -> None:
        """Let tasks still running for an earlier job finish and their
        events reach the status store, so counters split cleanly."""
        st = self._sc.statusTracker()
        for _ in range(500):
            if not st.getActiveJobsIds() and not st.getActiveStageIds():
                break
            time.sleep(0.01)
        bus.waitUntilEmpty()

    def _executor_totals(self) -> tuple[int, int, int]:
        it = self._sc._jsc.sc().statusStore().executorList(True).iterator()
        shuffle = task_ms = gc_ms = 0
        while it.hasNext():
            e = it.next()
            shuffle += e.totalShuffleWrite()
            task_ms += e.totalDuration()
            gc_ms += e.totalGCTime()
        return shuffle, task_ms, gc_ms

    @contextmanager
    def op(self, kind: str):
        """One timed operation of ``kind`` (pagerank, wcc, read, write):
        its Spark jobs run under their own job group."""
        if not self.enabled:
            yield
            return
        self._n_ops += 1
        group = f"perfbench-{kind}-{self._n_ops}"
        self._sc.setJobGroup(group, kind)
        bus = self._sc._jsc.sc().listenerBus()
        self._settle(bus)
        before = self._executor_totals()
        self._planning.ms = 0.0
        self._marks = []
        self.kind = kind
        try:
            yield
        finally:
            self.kind = None
            self._settle(bus)
            after = self._executor_totals()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_spark(kind, group, before, after)
            if kind in ("pagerank", "wcc"):
                self.counts[f"{kind}.rounds"] += len(self._marks)
                self.times[f"{kind}.round"].extend(
                    b - a for a, b in zip(self._marks, self._marks[1:]))

    def _count_spark(self, kind, group, before, after) -> None:
        st = self._sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        c, p = self.counts, f"spark.{kind}."
        c[kind + ".ops"] += 1
        c[p + "jobs"] += len(jobs)
        c[p + "stages"] += stages
        c[p + "tasks"] += tasks
        c[p + "shuffle_mb"] += (after[0] - before[0]) / 1e6
        c[p + "task_s"] += (after[1] - before[1]) / 1e3
        c[p + "gc_s"] += (after[2] - before[2]) / 1e3
        c[p + "catalyst_ms"] += self._planning.ms

    # -- summary ---------------------------------------------------
    def summary(self, rounds: int) -> dict[str, float]:
        """Per-layer metrics. Counts and inner-layer times are per
        workload round; per-call times are medians; ``spark.<op>.*``
        are per operation of that kind."""
        def med(name: str) -> float:
            v = self.times.get(name)
            return statistics.median(v) if v else 0.0

        def per_round(name: str) -> float:
            return sum(self.times.get(name, ())) / rounds

        c = self.counts
        out = {
            "session.start_s": med("session.start"),
            "tpch.build_s": med("tpch.build"),
            "alloc.warm_s": med("alloc.warm"),
            "setup.warmup_s": med("setup.warmup"),
            "pagerank.call_s": med("pagerank.call"),
            "wcc.call_s": med("wcc.call"),
            "pagerank.vertex_index_s": per_round("pagerank.vertex_index"),
            "pagerank.round_s": med("pagerank.round"),
            "wcc.round_s": med("wcc.round"),
            "graph.checkpoint_s": per_round("graph.checkpoint"),
            "rest.read.call_s": med("rest.read.call"),
            "rest.read.action_s": med("rest.read.action"),
            "ram.fits_s": per_round("ram.fits"),
            "ram.kernel_s": per_round("ram.kernel"),
            "rest.write.call_s": med("rest.write.call"),
            "mutate.upsert_s": per_round("mutate.upsert"),
        }
        for name in ("pagerank.vertex_index_calls", "pagerank.rounds",
                     "wcc.rounds", "graph.checkpoints", "operators.rounds",
                     "ram.reads", "graph.edges_plan_nodes"):
            out[name] = c[name] / rounds
        for op in OPS:
            n = c[op + ".ops"]
            for f in SPARK_FIELDS:
                out[f"spark.{op}.{f}"] = c[f"spark.{op}.{f}"] / n if n else 0.0
        return out
