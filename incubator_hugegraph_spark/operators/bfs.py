"""BFS frontier kernel + kout / kneighbor.

The spine every neighborhood traverser reuses (SURVEY §7.1):
the reference's per-request BFS with batched adjacency queries
(OltpTraverser.traverseIdsByBfs, core/traversal/algorithm/
OltpTraverser.java:93-157; KoutTraverser.java:43-111;
KneighborTraverser.java:39-74) becomes an iterative
``frontier ⋈ adj`` DataFrame loop:

  frontier_{k+1} = distinct(adj[src ∈ frontier_k].dst) \\ visited

Scale notes:
- The join is set-oriented — the reference's batched multi-source
  query (BatchConditionQuery.java) is the default here, not an
  optimization.
- Frontiers are usually tiny vs. edges: we hint broadcast on the
  frontier side so each round is a broadcast-hash join against the
  (bucketed) edge table — no edge shuffle per round. The hint is
  unconditional (Spark honors explicit hints regardless of size), so
  the reference's capacity/degree guards are what keep frontiers
  broadcastable — at the default capacity (10M ids ≈ a few hundred
  MB) a frontier still fits executor memory; beyond that the
  traversal aborts by the same rule the reference uses.
- ``localCheckpoint`` every few rounds cuts the O(depth) lineage.
- degree / skip_degree / capacity guards are the reference's own
  safety envelope (HugeTraverser.java:84-158) — load-bearing at scale
  (super-node skew control).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_hugegraph_spark import ram
from incubator_hugegraph_spark.graph import (
    BOTH,
    NO_LIMIT,
    OUT,
    PropertyGraph,
    cap_degree,
    checkpointed,
    iterate_hygiene,
    skip_super_nodes,
)


def sources_df(graph: PropertyGraph, ids: list[str]) -> DataFrame:
    # duplicated seed ids collapse to one traverser — the RAM kernel
    # np.unique's its sources, and a duplicate seed double-counting
    # against the capacity baseline (and emitting duplicate dist-0
    # rows) was an engine-dependent divergence (review r06)
    uniq = list(dict.fromkeys(ids))
    return graph.spark.createDataFrame([(i,) for i in uniq],
                                       "id string")


def prepared_adj(graph: PropertyGraph, direction: str = OUT,
                 labels: list[str] | None = None,
                 max_degree: int = NO_LIMIT,
                 skip_degree: int = NO_LIMIT) -> DataFrame:
    """Adjacency with the reference's super-node guards applied.

    skipDegree drops super-nodes entirely, max_degree truncates
    deterministically (HugeTraverser.skipSuperNodeIfNeeded,
    HugeTraverser.java:210-…).
    """
    adj = graph.adj(direction, labels).select("src", "dst")
    adj = skip_super_nodes(adj, skip_degree)
    adj = cap_degree(adj, max_degree, order_cols=("dst",))
    return adj


def loop_adj(graph: PropertyGraph, direction: str,
             labels: list[str] | None, max_degree: int, rounds: int,
             skip_degree: int = NO_LIMIT) -> DataFrame:
    """Deduped adjacency for a multi-round join loop, MATERIALIZED
    once when the loop has >1 round. Each round's join is a new plan
    with new shuffle ids, so an unmaterialized adj re-executes its
    scan + union + distinct shuffle every round — the checkpoint pays
    one O(|E|) write and every round after the first reads the
    materialized table instead."""
    adj = prepared_adj(graph, direction, labels, max_degree,
                       skip_degree).select("src", "dst").distinct()
    return checkpointed(adj) if rounds > 1 else adj


#: Broadcast the frontier / visited set only below this row count.
#: The reference's capacity guard (10M elements) bounds both before a
#: traversal aborts, but a frontier near that cap is a few hundred MB
#: of broadcast per round — past the limit the loop falls back to a
#: shuffle join with identical semantics (the same two-tier design as
#: pagerank/wcc's BROADCAST_VERTEX_LIMIT).
BROADCAST_FRONTIER_LIMIT = 1_000_000

#: On the shuffle-join fallback path, a single source vertex hotter
#: than this many edges would land its whole adjacency block on one
#: reducer (AQE's skew-join splits oversized sort-merge PARTITIONS,
#: but a single-key block behind the BFS loop's checkpoint boundary
#: is exactly the case functions/skew.py exists for). Past it the
#: layer join salts the adjacency side and replicates the frontier.
SALT_DEGREE_THRESHOLD = 1_000_000


def expand(frontier: DataFrame, adj: DataFrame,
           broadcast: bool = True, salts: int = 0) -> DataFrame:
    """One BFS layer: distinct out-neighbors of the frontier.
    Broadcast the frontier while it is small — the edge side never
    shuffles; past BROADCAST_FRONTIER_LIMIT the caller flips
    ``broadcast`` off and the layer is a plain shuffle join. With
    ``salts`` > 1 (supernode adjacency detected by the caller), the
    shuffle join spreads each hot src key across ``salts`` reducers
    via functions/skew.salted_join — replication cost is
    salts × |frontier|, paid only when a key would otherwise melt a
    reducer."""
    if not broadcast and salts > 1:
        from incubator_hugegraph_spark.functions.skew import salted_join
        return (salted_join(adj,
                            frontier.select(F.col("id").alias("src")),
                            on=["src"], salts=salts)
                .select(F.col("dst").alias("id"))
                .distinct())
    f = F.broadcast(frontier) if broadcast else frontier
    return (adj.join(f, on=adj.src == frontier.id)
            .select(F.col("dst").alias("id"))
            .distinct())


def _salts_for(adj: DataFrame, salts: int = 16) -> int:
    """Degree-threshold heuristic for the shuffle-path layer join:
    one O(|E|) aggregate over the (already checkpointed) adjacency —
    paid once per traversal, and only after the broadcast gate has
    tripped, i.e. when rounds already cost far more than this probe.
    Returns ``salts`` when some src exceeds SALT_DEGREE_THRESHOLD,
    else 0 (plain shuffle join)."""
    hot = (adj.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
           .agg(F.max("d").alias("m")).collect()[0][0]) or 0
    return salts if hot > SALT_DEGREE_THRESHOLD else 0


def bfs(graph: PropertyGraph, source_ids: list[str], depth: int,
        direction: str = OUT, labels: list[str] | None = None,
        max_degree: int = NO_LIMIT, skip_degree: int = NO_LIMIT,
        capacity: int = NO_LIMIT, engine: str = "auto") -> DataFrame:
    """Multi-source BFS → (id, dist), dist = first-reach layer
    (0 for sources). Global dedup ⇒ 'nearest' semantics.

    ``engine``: the RamTable-style CSR (ram.py) or the distributed
    frontier loop (the 100 TB path), decided by ``ram.takes_ram`` as
    for every operator of this module; a degree cap or skip_degree is
    dist-only. The reference answers these same traversals from
    RamTable when loaded."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT
                     and skip_degree == NO_LIMIT):
        return ram.ram_bfs(graph, source_ids, depth, direction, labels,
                           capacity)
    adj = loop_adj(graph, direction, labels, max_degree, depth,
                   skip_degree)
    frontier = sources_df(graph, source_ids)
    visited = frontier.withColumn("dist", F.lit(0))
    n_src = len(dict.fromkeys(source_ids))  # deduped, like sources_df
    total = n_src
    frontier_rows = n_src
    salts = None  # computed lazily, first shuffle-fallback round only
    for k in range(1, depth + 1):
        # frontier and visited ride the broadcast side only while
        # small (BROADCAST_FRONTIER_LIMIT); past it the layer join and
        # the anti-join fall back to shuffles — at 100 TB a frontier
        # can legitimately hold hundreds of millions of rows before
        # the capacity guard fires, and broadcasting that per round is
        # the r02-flagged failure mode. On the fallback path a
        # supernode src would put its whole adjacency block on one
        # reducer: probe the max degree once and salt the layer join
        # past SALT_DEGREE_THRESHOLD (functions/skew.py).
        bcast_round = frontier_rows <= BROADCAST_FRONTIER_LIMIT
        if not bcast_round and salts is None:
            salts = _salts_for(adj)
        frontier = (expand(frontier, adj,
                           broadcast=bcast_round,
                           salts=salts or 0)
                    .join((F.broadcast(visited.select("id"))
                           if total <= BROADCAST_FRONTIER_LIMIT
                           else visited.select("id")),
                          on="id", how="left_anti"))
        # LAZY checkpoint fused with the per-round count (a FULL
        # action — computes every partition): one job per round
        # instead of checkpoint-job + count-job (optimization r10,
        # same fusion page_rank's loop uses). The count also feeds
        # the capacity guard when one is set.
        frontier = checkpointed(frontier, eager=False)
        n = frontier.count()
        if capacity != NO_LIMIT:
            graph.check_capacity(frontier, capacity, precounted=n)
        if n == 0:
            break
        visited = visited.unionByName(
            frontier.withColumn("dist", F.lit(k)))
        frontier_rows = n
        total += n
        if capacity != NO_LIMIT and total > capacity:
            raise RuntimeError(f"capacity {capacity} exceeded")
    return visited


def kout(graph: PropertyGraph, source: str, depth: int,
         direction: str = OUT, labels: list[str] | None = None,
         nearest: bool = True, max_degree: int = NO_LIMIT,
         skip_degree: int = NO_LIMIT, capacity: int = NO_LIMIT,
         limit: int = NO_LIMIT, engine: str = "auto") -> DataFrame:
    """kout: vertices exactly ``depth`` steps away.

    nearest=True → not reachable by any shorter path (BFS layers with
    global dedup, KoutTraverser.java:43-111); nearest=False → the raw
    k-th expansion, deduped within the layer only (:114-147).
    Returns (id). ``engine`` as for ``bfs``; nearest=False is
    dist-only (no RAM kernel runs the raw expansion).
    """
    if nearest:
        out = (bfs(graph, [source], depth, direction, labels, max_degree,
                   skip_degree, capacity, engine=engine)
               .filter(F.col("dist") == depth).select("id"))
    else:
        # only validates engine: 'ram' raises here rather than
        # silently running the loop below
        ram.takes_ram(graph, engine, servable=False)
        adj = loop_adj(graph, direction, labels, max_degree, depth,
                       skip_degree)
        frontier = sources_df(graph, [source])
        total = 0
        for k in range(1, depth + 1):
            frontier = iterate_hygiene(expand(frontier, adj), k)
            if capacity != NO_LIMIT:
                # non-nearest mode revisits earlier layers, so
                # frontiers can REGROW every round — the mode with the
                # worst growth previously skipped the capacity guard
                # entirely (review r06)
                total += frontier.count()
                if total > capacity:
                    raise RuntimeError(f"capacity {capacity} exceeded")
        # the source itself is excluded even without nearest dedup
        # (ConcurrentVerticesConsumer takes sourceV explicitly,
        # KoutTraverser.java:89; KoutApiTest expects {peter, ripple,
        # josh} — not marko — for depth-2 BOTH nearest=false)
        out = frontier.select("id").filter(F.col("id") != source)
    if limit != NO_LIMIT:
        out = out.orderBy("id").limit(limit)  # deterministic truncation
    return out


#: edge-property comparison ops for Steps filters (the EdgeStep
#: properties map, core/traversal/algorithm/steps/EdgeStep.java:40-57;
#: conditions compiled like TraversalUtil conditions). Values in the
#: props map are strings; numeric ops cast to double.
_STEP_OPS = {
    "eq": lambda c, v: c == v,
    "gt": lambda c, v: c > v,
    "gte": lambda c, v: c >= v,
    "lt": lambda c, v: c < v,
    "lte": lambda c, v: c <= v,
}


def _typed_cmp(op: str, col, val):
    if isinstance(val, (int, float)) and not isinstance(val, bool):
        col, val = col.cast("double"), float(val)
    return _STEP_OPS[op](col, val)


def _step_adj(graph: PropertyGraph, st: dict) -> DataFrame:
    """Adjacency for ONE customized step: direction + labels +
    edge-property filters {key: (op, value)} + optional vertex-step
    whitelist {vertex_label: {key: (op, value)}}. Edge-property
    filters apply to the physical edge regardless of traversal
    direction (the reference filters the HugeEdge, not the adjacency
    row); vertex filters require BOTH endpoints to carry a
    whitelisted label and satisfy its conditions
    (HugeTraverser.edgesOfVertexStep/validateVertex,
    HugeTraverser.java:503-539)."""
    e = graph.edges.select("src", "dst", "label", "props")
    labels = st.get("labels")
    if labels:
        e = e.filter(F.col("label").isin(labels))
    for key, (op, val) in (st.get("props") or {}).items():
        e = e.filter(_typed_cmp(op, F.element_at(F.col("props"),
                                                 F.lit(key)), val))
    vf = st.get("vertex_filters")
    if vf:
        cond = None
        for vlabel, props in vf.items():
            c = F.col("label") == vlabel
            for key, (op, val) in (props or {}).items():
                c = c & _typed_cmp(op, F.element_at(F.col("props"),
                                                    F.lit(key)), val)
            cond = c if cond is None else (cond | c)
        allowed = graph.vertices.filter(cond).select("id")
        e = (e.join(F.broadcast(allowed), on=e.src == allowed.id,
                    how="left_semi")
             .join(F.broadcast(allowed), on=e.dst == allowed.id,
                   how="left_semi"))
    e = e.select("src", "dst")
    direction = st.get("direction", OUT)
    inn = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    if direction == OUT:
        adj = e
    elif direction == "IN":
        adj = inn
    else:
        adj = e.unionByName(inn)
    return cap_degree(adj, st.get("max_degree", NO_LIMIT),
                      order_cols=("dst",))


def customized_kout(graph: PropertyGraph, source: str,
                    steps: list[dict], nearest: bool = True,
                    limit: int = NO_LIMIT,
                    engine: str = "auto") -> DataFrame:
    """customizedKout (KoutTraverser.java:114-147, KoutAPI POST):
    per-step direction/labels/edge-property filters, depth =
    len(steps). nearest=True subtracts everything reached earlier.
    Returns (id)."""
    if ram.takes_ram(graph, engine, all(
            st.get("max_degree", NO_LIMIT) == NO_LIMIT for st in steps)):
        return ram.ram_customized_kout(graph, source, steps, nearest,
                                       limit)
    frontier = sources_df(graph, [source])
    visited = frontier
    for i, st in enumerate(steps):
        frontier = expand(frontier, _step_adj(graph, st))
        if nearest:
            frontier = frontier.join(F.broadcast(visited.select("id")),
                                     on="id", how="left_anti")
            visited = visited.unionByName(frontier)
        frontier = iterate_hygiene(frontier, i + 1)
    out = frontier.filter(F.col("id") != source)
    if limit != NO_LIMIT:
        out = out.orderBy("id").limit(limit)
    return out


def customized_kneighbor(graph: PropertyGraph, source: str,
                         steps: list[dict],
                         limit: int = NO_LIMIT,
                         engine: str = "auto") -> DataFrame:
    """customizedKneighbor (KneighborTraverser.java:74-…, KneighborAPI
    POST): every vertex reached within the step sequence, source
    excluded. Returns (id, dist) — dist = first-reach step ordinal."""
    if ram.takes_ram(graph, engine, all(
            st.get("max_degree", NO_LIMIT) == NO_LIMIT for st in steps)):
        return ram.ram_customized_kneighbor(graph, source, steps, limit)
    frontier = sources_df(graph, [source])
    visited = frontier.withColumn("dist", F.lit(0))
    for i, st in enumerate(steps):
        frontier = (expand(frontier, _step_adj(graph, st))
                    .join(F.broadcast(visited.select("id")),
                          on="id", how="left_anti"))
        frontier = iterate_hygiene(frontier, i + 1)
        visited = visited.unionByName(
            frontier.withColumn("dist", F.lit(i + 1)))
    out = visited.filter(F.col("id") != source)
    if limit != NO_LIMIT:
        out = out.orderBy("dist", "id").limit(limit)
    return out


def kneighbor(graph: PropertyGraph, source: str, depth: int,
              direction: str = BOTH, labels: list[str] | None = None,
              max_degree: int = NO_LIMIT, skip_degree: int = NO_LIMIT,
              limit: int = NO_LIMIT, engine: str = "auto") -> DataFrame:
    """kneighbor: all vertices within ≤ depth steps, source excluded
    (KneighborTraverser.java:39-74). Returns (id, dist)."""
    vis = (bfs(graph, [source], depth, direction, labels, max_degree,
               skip_degree, engine=engine)
           .filter(F.col("id") != source))
    if limit != NO_LIMIT:
        vis = vis.orderBy("dist", "id").limit(limit)
    return vis


def kneighbor_edges(graph: PropertyGraph, source: str, depth: int,
                    direction: str = BOTH,
                    labels: list[str] | None = None,
                    max_degree: int = NO_LIMIT) -> DataFrame:
    """kneighbor POST with with_edge=true (KneighborAPI.java:198-222):
    the edges of the ≤depth neighborhood subgraph — both endpoints in
    {source} ∪ kneighbor set. Two semi-joins against the reached-vertex
    set; the edge table never shuffles. Returns (src, dst, label,
    sort_values)."""
    reached = bfs(graph, [source], depth, direction, labels,
                  max_degree).select("id")
    e = graph.adj(OUT, labels).select("src", "dst", "label", "sort_values")
    return (e.join(F.broadcast(reached), on=e.src == reached.id,
                   how="left_semi")
            .join(F.broadcast(reached), on=e.dst == reached.id,
                  how="left_semi"))


def kneighbor_paths(graph: PropertyGraph, source: str, depth: int,
                    direction: str = OUT,
                    labels: list[str] | None = None,
                    max_degree: int = NO_LIMIT,
                    limit: int = NO_LIMIT,
                    engine: str = "auto") -> DataFrame:
    """kneighbor POST with with_path=true (KneighborAPI.java:198-222;
    records machinery core/traversal/algorithm/records/
    KneighborRecords.java): every vertex within ≤ depth steps plus ONE
    path from the source. The reference reconstructs an arbitrary
    parent chain; we return the lexicographically smallest path per
    vertex (deterministic deviation, SURVEY §7.4#4). Returns
    (id, path, dist)."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT):
        return ram.ram_kneighbor_paths(graph, source, depth, direction,
                                       labels, limit)
    adj = loop_adj(graph, direction, labels, max_degree, depth)
    sep = ">"
    frontier = (graph.spark.createDataFrame([(source,)], "id string")
                .select("id", F.col("id").alias("path")))
    visited = frontier.select("id")
    out: DataFrame | None = None
    frontier_rows, seen_total = 1, 1
    for k in range(1, depth + 1):
        # same broadcast gate as bfs() (review r06: this loop force-
        # broadcast a path-carrying frontier with no size cap — the
        # r02-flagged failure mode bfs's fallback exists for); past
        # the gate the layer join and the anti-join shuffle instead
        fside = F.broadcast(frontier) \
            if frontier_rows <= BROADCAST_FRONTIER_LIMIT else frontier
        vside = F.broadcast(visited) \
            if seen_total <= BROADCAST_FRONTIER_LIMIT else visited
        ext = (adj.join(fside, on=adj.src == frontier.id)
               .select(F.col("dst").alias("id"),
                       F.concat_ws(sep, "path", "dst").alias("path"))
               .join(vside, on="id", how="left_anti"))
        # one (min-lex) path per newly reached vertex — this collapse is
        # what keeps the frontier O(|V|) instead of O(#paths). Lazy
        # checkpoint fused with the count (full action): one job per
        # round (optimization r10).
        frontier = checkpointed(
            ext.groupBy("id").agg(F.min("path").alias("path")),
            eager=False)
        frontier_rows = frontier.count()
        if frontier_rows == 0:
            break
        seen_total += frontier_rows
        visited = visited.unionByName(frontier.select("id"))
        lvl = frontier.withColumn("dist", F.lit(k))
        out = lvl if out is None else out.unionByName(lvl)
    if out is None:
        return graph.spark.createDataFrame(
            [], "id string, path string, dist int")
    if limit != NO_LIMIT:
        out = out.orderBy("dist", "id").limit(limit)
    return out


def temporal_reachability(graph, source: str, depth: int = 2,
                          label: str = "interacted",
                          ts_col: str = "ts"):
    """Earliest-arrival reachability over a TEMPORAL graph (Wu et
    al., "Path Problems in Temporal Graphs", VLDB 2014 — public
    algorithm): v is reachable within ``depth`` hops iff some path
    has strictly increasing edge timestamps; ``arrival`` is the
    earliest feasible one. Earliest arrival is monotone-optimal
    (arriving earlier never closes an option), so the loop is
    ``depth-1`` rounds of frontier relaxation keeping MIN arrival per
    vertex — the kout join shape plus one timestamp predicate, and
    every intermediate table stays vertex-sized (no path
    enumeration). Returns (id, arrival), source excluded."""
    e = graph.edge_views[label].select(
        "src", "dst", F.col(ts_col).alias("t"))
    best = (e.filter(F.col("src") == source)
            .groupBy("dst").agg(F.min("t").alias("t"))
            .select(F.col("dst").alias("id"), "t"))
    for _ in range(depth - 1):
        frontier = best.select(F.col("id").alias("fid"),
                               F.col("t").alias("ft"))
        cand = (frontier.join(e, on=frontier.fid == e.src)
                .filter(F.col("t") > F.col("ft"))
                .groupBy("dst").agg(F.min("t").alias("t"))
                .select(F.col("dst").alias("id"), "t"))
        best = (best.unionByName(cand)
                .groupBy("id").agg(F.min("t").alias("t")))
    return best.filter(F.col("id") != source)
