"""The two workloads: whole-graph jobs on the distributed tier, and a
REST read/write mix.

A workload is built from the seed and the independent reference in
``oracle``: it draws its requests and computes the right answer to
each, and keeps only those, so it can be built in another process and
handed over. It warms the engine in ``warm`` (part of set-up); then
the caller repeats ``round``, a whole round of the same operations,
until the time is up, timing each operation from request to rows
collected and checking its answer. Checks run outside the timed
spans.
"""

from __future__ import annotations

import random
import sys
import traceback
from dataclasses import dataclass, field
from time import perf_counter

import oracle


@dataclass
class Op:
    kind: str          # pagerank, wcc, read, write
    seconds: float
    ok: bool


@dataclass
class Outcome:
    ops: list[Op] = field(default_factory=list)
    rounds: int = 0
    unexpected: list[str] = field(default_factory=list)

    def record(self, kind: str, seconds: float, why: str | None,
               known_fault: bool = False, what: str = "") -> None:
        """``why`` is None for a right answer; ``known_fault`` excuses a
        wrong one from ``unexpected``, which fails the run."""
        self.ops.append(Op(kind, seconds, why is None))
        print(f"op {kind} {what} {seconds:.4f}s "
              f"{'ok' if why is None else 'failed'}", file=sys.stderr)
        if why is not None and not known_fault:
            self.unexpected.append(why)
            print(f"check failed: {why}", file=sys.stderr)


def _timed(tracer, kind: str, fn):
    """Run one operation under the tracer; (rows, seconds, error)."""
    with tracer.op(kind):
        t = perf_counter()
        try:
            rows = fn()
        except Exception:   # one broken operation must not stop the run
            traceback.print_exc()
            return None, perf_counter() - t, "raised"
        return rows, perf_counter() - t, None


class OlapDist:
    """``page_rank`` then ``wcc`` on the distributed engine. The graph
    is the whole input, so the seed has nothing to pick."""

    PR = {"alpha": 0.15, "precision": 1e-4, "max_times": 20}
    #: a short page_rank warms every plan shape of its loop, and most of
    #: the join/aggregate/checkpoint code wcc runs too; a separate wcc
    #: warm-up would add about 5 s to every run for about 1 s of wcc
    WARM_ROUNDS = 3

    def __init__(self, seed: int, ref: oracle.Graph) -> None:
        self.want_rank = ref.page_rank(**self.PR)
        self.want_comp = ref.components()

    def warm(self, g) -> None:
        from incubator_hugegraph_spark.algorithms.pagerank import page_rank
        page_rank(g, engine="dist", **{**self.PR,
                                       "max_times": self.WARM_ROUNDS}
                  ).collect()

    def round(self, g, tracer, out: Outcome) -> None:
        from incubator_hugegraph_spark.algorithms.pagerank import page_rank
        from incubator_hugegraph_spark.algorithms.wcc import wcc
        rows, dt, err = _timed(tracer, "pagerank", lambda: page_rank(
            g, engine="dist", **self.PR).collect())
        tracer.times["pagerank.call"].append(dt)
        out.record("pagerank", dt, err or oracle.check_page_rank(
            self.want_rank, rows, self.PR["precision"]))
        rows, dt, err = _timed(tracer, "wcc",
                               lambda: wcc(g, engine="dist").collect())
        tracer.times["wcc.call"].append(dt)
        out.record("wcc", dt, err or oracle.check_wcc(self.want_comp, rows))


def _read(ep: str, **req) -> tuple[str, dict]:
    return ep, {**req, "direction": "OUT"}


class RestMix:
    """A read-only phase, then rounds of (edge-batch POST, depth-1
    ``kout`` with default parameters, the same ``kout`` with
    ``max_degree: -1``). Each round of the workload starts again from
    the loaded graph, so every round sends the same requests."""

    WRITE_ROUNDS = 2
    EDGES_PER_WRITE = 2
    FIRST_EVENT_ID = 10_000_000

    def __init__(self, seed: int, ref: oracle.Graph) -> None:
        rng = random.Random(seed)
        custs = sorted(v for v in ref.ids if v.startswith("customer!"))
        nation = {c: next(iter(n for n in ref.out[c]
                               if n.startswith("nation!")))
                  for c in custs}
        a = rng.choice(custs)
        b = rng.choice([c for c in custs if nation[c] == nation[a]
                        and c != a])
        # a customer with parts exactly three hops out: the path runs
        # customer > customer > order > part
        src, far = None, []
        while not far:
            src = rng.choice(custs)
            far = sorted(v for v, d in ref.layers(src, 3).items()
                         if d == 3 and v.startswith("part!"))
        path = {"source": src, "target": rng.choice(far), "max_depth": 3}
        k1, k2 = rng.choice(custs), rng.choice(custs)
        self.reads = []
        for ep, req in [_read("kout", source=k1, max_depth=2),
                        _read("kneighbor", source=k2, max_depth=2),
                        _read("shortestpath", **path),
                        _read("sameneighbors", vertex=a, other=b)]:
            want = oracle.expect(ref, ep, req)
            self.reads += [(ep, req, want),
                           (ep, {**req, "max_degree": -1}, want)]
        batches = []
        eid = self.FIRST_EVENT_ID
        for _ in range(self.WRITE_ROUNDS):
            c = rng.choice(custs)
            new = rng.sample([x for x in custs
                              if x != c and x not in ref.out.get(c, ())],
                             self.EDGES_PER_WRITE)
            batch = []
            for x in new:
                batch.append({"label": "interacted", "outV": c, "inV": x,
                              "properties": {
                                  "event_id": str(eid),
                                  "event_type": rng.choice(
                                      ["click", "view", "purchase"]),
                                  "ts": "2024-02-01 00:00:00",
                                  "value": f"{rng.uniform(0, 20):.2f}"}})
                eid += 1
            batches.append((c, batch))
        # per write: the batch, the depth-1 kout from its source, the
        # right answer after the round's writes so far, and the stale
        # answer from the graph as loaded
        self.writes = []
        written = ref.copy()
        for c, batch in batches:
            written.upsert(self.batch_edges(batch))
            oracle.check_degree_cap(written)
            kout = _read("kout", source=c, max_depth=1)[1]
            self.writes.append((batch, kout,
                                oracle.expect(written, "kout", kout),
                                oracle.expect(ref, "kout", kout)))
        self._base = None
        self._alive = []

    @staticmethod
    def batch_edges(batch: list[dict]) -> list[tuple]:
        return [(e["outV"], e["inV"], e["label"],
                 e["properties"]["event_id"]) for e in batch]

    def warm(self, g) -> None:
        """With fixed inputs: run the dist frontier loop and the write
        path once, so their code is warm, and let the RAM tier load its
        adjacency from the graph as loaded, before any write."""
        from incubator_hugegraph_spark import rest
        self._base = (g.edges, dict(g.edge_views))
        c = "customer!0"
        for ep, req in [_read("kout", source=c, max_depth=2),
                        _read("kout", source=c, max_depth=2, max_degree=-1),
                        _read("kneighbor", source=c, max_depth=2,
                              max_degree=-1),
                        _read("shortestpath", source=c, target="part!0",
                              max_depth=3, max_degree=-1),
                        _read("sameneighbors", vertex=c, other="customer!1",
                              max_degree=-1)]:
            rest.execute(g, ep, req).collect()
        rest.execute_graph_crud(g, "POST", "edges/batch", [
            {"label": "interacted", "outV": c, "inV": "customer!1",
             "properties": {"event_id": "1", "event_type": "view",
                            "ts": "2024-02-01 00:00:00", "value": "1"}}])
        self._alive.append(g.edges)
        self._reset(g)

    def _reset(self, g) -> None:
        """Back to the graph as loaded, for the next round."""
        g.edges, views = self._base
        g.edge_views = dict(views)

    def round(self, g, tracer, out: Outcome) -> None:
        from incubator_hugegraph_spark import rest

        def read(ep: str, req: dict, want, stale=None) -> None:
            def call():
                with tracer.span("rest.read.call"):
                    df = rest.execute(g, ep, req)
                with tracer.span("rest.read.action"):
                    return df.collect()
            rows, dt, err = _timed(tracer, "read", call)
            why = err or oracle.check(ep, want, rows)
            # only the known fault's exact answer is excused: rows, and
            # the ones the graph as loaded gives
            known = (why is not None and err is None and stale is not None
                     and oracle.check(ep, stale, rows) is None)
            out.record("read", dt, why, known,
                       f"{ep}/{'ram' if 'max_degree' in req else 'dist'}")

        for ep, req, want in self.reads:
            read(ep, req, want)
        for batch, kout, want, stale in self.writes:
            def post():
                with tracer.span("rest.write.call"):
                    return rest.execute_graph_crud(g, "POST", "edges/batch",
                                                   batch)
            eids, dt, err = _timed(tracer, "write", post)
            # every DataFrame the graph held stays referenced, so no
            # id()-keyed cache entry can be matched by a recycled id
            self._alive.append(g.edges)
            out.record("write", dt, err or (
                None if eids is not None and len(eids) == len(batch)
                else f"write: returned {eids!r}"))
            read("kout", kout, want)
            # known fault: the RAM tier answers from the adjacency it
            # memoized before the write
            read("kout", {**kout, "max_degree": -1}, want, stale)
        tracer.counts["graph.edges_plan_nodes"] += len(
            g.edges._jdf.queryExecution().logical().treeString()
            .splitlines())
        self._reset(g)


WORKLOADS = {"olap-dist": OlapDist, "rest-mix": RestMix}
