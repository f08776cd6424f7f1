"""Independent answers for every operation the benchmark sends.

Nothing here imports the engine or Spark. The adjacency is derived by
DuckDB straight from the raw parquet tables, with the same edge rules
the engine documents in ``sources/tpch.py``; the benchmark's own
writes are applied to it with EdgeId upsert semantics (an edge is
identified by ``src>label>sort_values>dst``). Traversals are plain
Python BFS, components a union-find, PageRank a numpy power
iteration. ``expect`` computes the right answer to a traversal
request; ``check`` and the ``check_*`` functions return ``None`` when
the engine's answer is right and a one-line reason when it is not.
"""

from __future__ import annotations

import os
from collections import deque

#: HugeTraverser's default degree cap, which the REST adapter applies
#: when a request leaves ``max_degree`` out.
DEFAULT_MAX_DEGREE = 10_000

V_SQL = """
SELECT 'region!' || r_regionkey AS id FROM region
UNION ALL SELECT 'nation!' || n_nationkey FROM nation
UNION ALL SELECT 'customer!' || c_custkey FROM customer
UNION ALL SELECT 'supplier!' || s_suppkey FROM supplier
UNION ALL SELECT 'part!' || p_partkey FROM part
UNION ALL SELECT 'order!' || o_orderkey FROM orders
"""

E_SQL = """
SELECT 'customer!' || c_custkey AS src, 'nation!' || c_nationkey AS dst,
       'in_nation' AS label, '' AS sort_values FROM customer
UNION ALL SELECT 'nation!' || n_nationkey, 'region!' || n_regionkey,
       'located_in', '' FROM nation
UNION ALL SELECT 'supplier!' || s_suppkey, 'nation!' || s_nationkey,
       'supplier_nation', '' FROM supplier
UNION ALL SELECT 'customer!' || o_custkey, 'order!' || o_orderkey,
       'placed', '' FROM orders
UNION ALL SELECT 'order!' || l_orderkey, 'part!' || l_partkey,
       'contains', CAST(l_linenumber AS VARCHAR) FROM lineitem
UNION ALL SELECT DISTINCT 'supplier!' || l_suppkey, 'part!' || l_partkey,
       'supplies', '' FROM lineitem
UNION ALL SELECT 'customer!' || pu, 'customer!' || user_id,
       'interacted', CAST(event_id AS VARCHAR)
  FROM (SELECT lag(user_id) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS pu,
               user_id, event_id
        FROM events)
  WHERE pu IS NOT NULL AND pu <> user_id
"""


def load_tables(data_dir: str) -> tuple[list[str], list[tuple]]:
    """(vertex ids, [(src, dst, label, sort_values)]) from the parquet."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events"):
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}')")
        ids = [r[0] for r in con.execute(V_SQL).fetchall()]
        edges = con.execute(E_SQL).fetchall()
    finally:
        con.close()
    return ids, edges


class Graph:
    """Directed multigraph keyed by EdgeId, with OUT adjacency sets."""

    def __init__(self, ids: list[str], edges: list[tuple]) -> None:
        self.ids = list(ids)
        self.edges: dict[tuple, tuple[str, str]] = {}
        self.upsert(edges)

    def copy(self) -> "Graph":
        g = Graph.__new__(Graph)
        g.ids = self.ids
        g.edges = dict(self.edges)
        g._out = None
        return g

    def upsert(self, edges) -> None:
        """Insert or replace by EdgeId (src, label, sort_values, dst)."""
        for src, dst, label, sv in edges:
            self.edges[(src, label, sv, dst)] = (src, dst)
        self._out = None

    @property
    def out(self) -> dict[str, set[str]]:
        if self._out is None:
            out: dict[str, set[str]] = {}
            for src, dst in self.edges.values():
                out.setdefault(src, set()).add(dst)
            self._out = out
        return self._out

    def max_out_degree(self) -> int:
        """Physical out-degree (multi-edges counted), what the degree
        cap counts."""
        deg: dict[str, int] = {}
        for src, _ in self.edges.values():
            deg[src] = deg.get(src, 0) + 1
        return max(deg.values(), default=0)

    # -- traversals ------------------------------------------------
    def layers(self, source: str, depth: int) -> dict[str, int]:
        """First-reach BFS layer of every vertex within ``depth``."""
        dist = {source: 0}
        q = deque([source])
        while q:
            u = q.popleft()
            if dist[u] == depth:
                continue
            for w in self.out.get(u, ()):
                if w not in dist:
                    dist[w] = dist[u] + 1
                    q.append(w)
        return dist

    def kout(self, source: str, depth: int) -> set[str]:
        return {v for v, d in self.layers(source, depth).items()
                if d == depth}

    def kneighbor(self, source: str, depth: int) -> set[tuple[str, int]]:
        return {(v, d) for v, d in self.layers(source, depth).items()
                if v != source}

    def same_neighbors(self, a: str, b: str) -> set[str]:
        return self.out.get(a, set()) & self.out.get(b, set())

    # -- whole-graph jobs ------------------------------------------
    def components(self) -> dict[str, str]:
        """Weak components over vertex-to-vertex edges; each labelled
        with its lexicographically smallest id."""
        parent = {v: v for v in self.ids}

        def find(v: str) -> str:
            while parent[v] != v:
                parent[v] = parent[parent[v]]
                v = parent[v]
            return v

        for src, dst in self.edges.values():
            if src in parent and dst in parent:
                a, b = find(src), find(dst)
                if a != b:
                    # keep the smaller id as root: the root is the label
                    if b < a:
                        a, b = b, a
                    parent[b] = a
        return {v: find(v) for v in self.ids}

    def page_rank(self, alpha: float, precision: float,
                  max_times: int) -> dict[str, float]:
        """The recurrence documented in ``algorithms/pagerank.py``:

            incoming(v) = sum over edges u->v of rank(u) / outdeg(u)
            rank'(v)    = alpha/N + (1-alpha) * incoming(v)
            rank''(v)   = rank'(v) + (1 - sum rank') / N

        stopping after the first round whose L1 change is below
        ``precision``, or after ``max_times`` rounds. Out-degree counts
        every physical edge; messages to non-vertices are dropped."""
        import numpy as np

        pos = {v: i for i, v in enumerate(self.ids)}
        n = len(self.ids)
        deg = np.zeros(n)
        src, dst = [], []
        for s, d in self.edges.values():
            if s in pos:
                deg[pos[s]] += 1
                if d in pos:
                    src.append(pos[s])
                    dst.append(pos[d])
        src, dst = np.asarray(src), np.asarray(dst)
        safe = np.where(deg > 0, deg, 1.0)
        rank = np.full(n, 1.0 / n)
        for _ in range(max_times):
            inc = np.bincount(dst, weights=(rank / safe)[src], minlength=n)
            new = alpha / n + (1.0 - alpha) * inc
            new += (1.0 - new.sum()) / n
            changed = np.abs(new - rank).sum()
            rank = new
            if changed < precision:
                break
        return dict(zip(self.ids, rank.tolist()))


# -- checks: None = right, else the reason ----------------------------

def _diff(name: str, got: set, want: set) -> str | None:
    if got == want:
        return None
    missing, extra = sorted(want - got)[:3], sorted(got - want)[:3]
    return (f"{name}: {len(got)} rows, want {len(want)}; "
            f"missing {missing} extra {extra}")


def check_degree_cap(g: Graph) -> None:
    """The default ``max_degree`` must not bind, or default-parameter
    reads would legitimately differ from an uncapped BFS."""
    top = g.max_out_degree()
    if top >= DEFAULT_MAX_DEGREE:
        raise ValueError(f"max out-degree {top} reaches the default "
                         f"degree cap {DEFAULT_MAX_DEGREE}")


def expect(g: Graph, ep: str, req: dict):
    """The right answer to a traversal request on ``g``, as a small
    value that ``check`` compares the engine's rows with. It holds no
    reference to ``g``, so it can be computed in another process."""
    if ep == "kout":
        return g.kout(req["source"], int(req["max_depth"]))
    if ep == "kneighbor":
        return g.kneighbor(req["source"], int(req["max_depth"]))
    if ep == "sameneighbors":
        return g.same_neighbors(req["vertex"], req["other"])
    if ep == "shortestpath":
        s, t = req["source"], req["target"]
        layers = g.layers(s, int(req["max_depth"]))
        dist = layers.get(t)
        # the i-th vertex of a shortest path is on BFS layer i, so the
        # OUT edges of the layers before the target's are all it can use
        steps = {} if dist is None else {
            u: set(g.out.get(u, ())) for u, d in layers.items() if d < dist}
        return s, t, dist, steps
    raise ValueError(f"no reference for {ep}")


def _check_shortestpath(want: tuple, rows: list) -> str | None:
    """Any shortest path is right: it must start and end where asked,
    follow existing OUT edges, and be as short as the BFS distance."""
    s, t, dist, steps = want
    if dist is None:
        return None if not rows else f"shortestpath: {len(rows)} rows, want 0"
    if len(rows) != 1:
        return f"shortestpath: {len(rows)} rows, want 1"
    path, length = rows[0][0].split(">"), int(rows[0][1])
    if path[0] != s or path[-1] != t:
        return f"shortestpath: {rows[0][0]} does not join {s} to {t}"
    if length != dist or len(path) - 1 != dist:
        return f"shortestpath: length {length}/{len(path) - 1}, want {dist}"
    for u, w in zip(path, path[1:]):
        if w not in steps.get(u, ()):
            return f"shortestpath: step {u}>{w} is not an edge"
    return None


def check(ep: str, want, rows: list) -> str | None:
    """The engine's rows for a traversal request against ``expect``."""
    if ep == "kout":
        return _diff("kout", {r[0] for r in rows}, want)
    if ep == "kneighbor":
        return _diff("kneighbor", {(r[0], int(r[1])) for r in rows}, want)
    if ep == "sameneighbors":
        return _diff("sameneighbors", {r[0] for r in rows}, want)
    if ep == "shortestpath":
        return _check_shortestpath(want, rows)
    raise ValueError(f"no check for {ep}")


def check_wcc(want: dict[str, str], rows: list) -> str | None:
    got = {r[0]: r[1] for r in rows}
    if len(got) != len(rows):
        return "wcc: duplicate ids"
    bad = [v for v in want if got.get(v) != want[v]]
    if bad or len(got) != len(want):
        return (f"wcc: {len(bad)} wrong labels of {len(want)}, "
                f"{len(got)} rows; e.g. {bad[:2]}")
    return None


def check_page_rank(want: dict[str, float], rows: list,
                    precision: float) -> str | None:
    """Tolerance precision/10 in L1. Both sides run the same recurrence
    and stopping rule, so they differ only by float summation order
    (about 1e-16 per vertex); a result that stopped one round early or
    late is about ``precision`` away, and so is a rank moved by it."""
    got = {r[0]: float(r[1]) for r in rows}
    if set(got) != set(want) or len(got) != len(rows):
        return f"page_rank: {len(rows)} rows for {len(want)} vertices"
    l1 = sum(abs(got[v] - want[v]) for v in want)
    if l1 > precision / 10:
        return f"page_rank: L1 distance {l1:.3g} > {precision / 10:.3g}"
    return None
