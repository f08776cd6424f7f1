"""Benchmark entry point.

    python3 perfbench/run.py --workload olap-dist|rest-mix --seed N \
        --seconds S --trace 0|1

Run from the repository root. One process, one closed-loop client,
Spark on ``local[<cpus available>]`` with a 2 GB JVM heap. Prints
the set-up and per-operation metrics as the last line of standard
output, as one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones of ``tracing.LAYER_METRICS``. Exits 1, after that
line, when an answer is wrong other than by the known fault named in
README.md. On every way out it stops the Spark JVM and waits until it,
and every process it started, has ended. See README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import multiprocessing
import resource
import signal
import sys
from concurrent.futures import ProcessPoolExecutor
from time import monotonic, perf_counter, sleep

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "2g"
PR_SET_CHILD_SUBREAPER = 36
#: how long the JVM and its workers get to exit on their own
EXIT_GRACE_S = 60.0


def _configure_env() -> None:
    """Engine settings, fixed for every run; all temporary files stay in the
    checkout."""
    from incubator_hugegraph_spark.session import DEFAULT_DRIVER_JAVA_OPTS

    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            f"{DEFAULT_DRIVER_JAVA_OPTS} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}"),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no console progress bar: nobody watches it, and it redraws
        # from its own thread several times a second
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })


def _plan(name: str, seed: int):
    """The input tables, and the workload with the right answer to each
    of its requests. Runs in a child process, so the checker's memory
    (DuckDB, the reference graph) stays out of ``peak_rss_mb``."""
    import fixture
    import oracle
    from workloads import WORKLOADS

    data_dir = fixture.ensure_tables()
    ref = oracle.Graph(*oracle.load_tables(data_dir))
    oracle.check_degree_cap(ref)
    return data_dir, WORKLOADS[name](seed, ref)


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so the
    Spark JVM's Python workers, which outlive the JVM by a moment, come
    back here to be waited for."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    pids = []
    for task in os.listdir("/proc/self/task"):
        with open(f"/proc/self/task/{task}/children") as f:
            pids += [int(p) for p in f.read().split()]
    return pids


def _end_children() -> None:
    """Stop the Spark JVM, if it was started, and wait until every
    process this one started has ended; kill what has not ended within
    ``EXIT_GRACE_S``."""
    context = sys.modules.get("pyspark.context")
    gateway = context and context.SparkContext._gateway
    if gateway is not None and gateway.proc.poll() is None:
        gateway.proc.stdin.close()   # the JVM exits at end of its input
    deadline = monotonic() + EXIT_GRACE_S
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return          # no child left, orphans included
        if pid:
            continue
        if monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        sleep(0.05)


def _peak_rss_mb(spark) -> float:
    """High-water resident memory of this process plus the Spark JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["olap-dist", "rest-mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    _configure_env()   # imports the engine first: no engine, no run
    from tracing import LAYER_METRICS, Tracer
    from workloads import Outcome

    # a plain kill ends the run through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    _adopt_orphans()
    spark = None
    try:
        # forked before the Spark JVM starts
        with ProcessPoolExecutor(
                1, mp_context=multiprocessing.get_context("fork")) as pool:
            data_dir, workload = pool.submit(_plan, args.workload,
                                             args.seed).result()
        tracer = Tracer(bool(args.trace))

        t0 = perf_counter()
        with tracer.span("session.start"):
            from incubator_hugegraph_spark.session import get_spark
            spark = get_spark("perfbench")
        with tracer.span("tpch.build"):
            from incubator_hugegraph_spark.sources.tpch import build_graph
            g = build_graph(spark, data_dir)
            g.vertices = g.vertices.persist()
            g.edges = g.edges.persist()
            g.vertices.count()
            g.edges.count()
        with tracer.span("alloc.warm"):
            from incubator_hugegraph_spark._alloc import (warm_allocator,
                                                          warm_jvm_heap)
            warm_allocator()
            warm_jvm_heap(spark)
        with tracer.span("setup.warmup"):
            workload.warm(g)
        setup_s = perf_counter() - t0

        tracer.install(spark)
        out = Outcome()
        start = perf_counter()
        while out.rounds == 0 or perf_counter() - start < args.seconds:
            workload.round(g, tracer, out)
            out.rounds += 1
        tracer.uninstall()
        rss = _peak_rss_mb(spark)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # clean up whole
        try:
            if spark is not None:
                spark.stop()
        finally:
            _end_children()

    passed = sum(op.ok for op in out.ops)
    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "ops_per_s": (passed / sum(op.seconds for op in out.ops), "ops/s"),
    }
    if args.trace:
        layer = tracer.summary(out.rounds)
        for name in ("setup_s", "ops_per_s"):
            layer["traced." + name] = e2e[name][0]
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u in LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    failed = sum(not op.ok for op in out.ops)
    print(json.dumps({"correct": not out.unexpected,
                      "attempted": len(out.ops), "failed": failed,
                      "metrics": metrics}))
    return 1 if out.unexpected else 0


if __name__ == "__main__":
    sys.exit(main())
