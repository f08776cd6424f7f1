"""Neighbor-set operators: sameneighbors, jaccard (pair + top-N),
adamicadar, resourceallocation, edgeexist, count.

Reference: SameNeighborTraverser.java:38-68,
JaccardSimilarTraverser.java:48-101, PredictionTraverser.java:36-…,
EdgeExistenceTraverser.java:38-…, CountTraverser.java:47-….

All are compositions of groupBy/join set algebra — one shuffle per
grouping, broadcast for the constant-size source sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incubator_hugegraph_spark import ram
from incubator_hugegraph_spark.graph import BOTH, NO_LIMIT, OUT, PropertyGraph
from incubator_hugegraph_spark.operators.bfs import prepared_adj


def neighbors(graph: PropertyGraph, vertex: str, direction: str = BOTH,
              labels: list[str] | None = None,
              max_degree: int = NO_LIMIT) -> DataFrame:
    adj = prepared_adj(graph, direction, labels, max_degree)
    return adj.filter(F.col("src") == vertex).select("dst").distinct()


def same_neighbors(graph: PropertyGraph, a: str, b: str,
                   direction: str = BOTH,
                   labels: list[str] | None = None,
                   max_degree: int = NO_LIMIT,
                   limit: int = NO_LIMIT,
                   engine: str = "auto") -> DataFrame:
    """Common neighbors of two vertices (SameNeighborTraverser.java:38-68).
    Returns (id). ``engine``: see ``ram.takes_ram`` (a degree cap is
    dist-only), as for every operator of this module."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT):
        return ram.ram_same_neighbors(graph, a, b, direction, labels,
                                      limit)
    common = (neighbors(graph, a, direction, labels, max_degree)
              .intersect(neighbors(graph, b, direction, labels, max_degree))
              .select(F.col("dst").alias("id")))
    if limit != NO_LIMIT:
        common = common.orderBy("id").limit(limit)
    return common


def jaccard_similarity(graph: PropertyGraph, a: str, b: str,
                       direction: str = BOTH,
                       labels: list[str] | None = None,
                       max_degree: int = NO_LIMIT,
                       engine: str = "auto") -> DataFrame:
    """Pair-mode Jaccard |A∩B|/|A∪B| of neighbor sets
    (JaccardSimilarTraverser.jaccardSimilarity :48-79).
    Returns one row (jaccard double, rounded 6)."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT):
        return ram.ram_pair_scores(graph, a, b, direction, labels,
                                   "jaccard")
    na = neighbors(graph, a, direction, labels, max_degree)
    nb = neighbors(graph, b, direction, labels, max_degree)
    inter = na.intersect(nb).count()
    union = na.union(nb).distinct().count()
    val = float(inter) / union if union else 0.0
    return graph.spark.createDataFrame([(round(val, 6),)], "jaccard double")


def _common_with_degree(graph: PropertyGraph, a: str, b: str,
                        direction: str, labels: list[str] | None,
                        max_degree: int) -> DataFrame:
    """(id, degree) of each common neighbor z of a and b; degree is
    z's degree in the same direction/labels. Reached only on the
    distributed tier, so the common set stays there too."""
    common = same_neighbors(graph, a, b, direction, labels, max_degree,
                            engine="dist")
    deg = graph.degrees(direction, labels)
    # broadcast the TINY side: `common` is one pair's shared-neighbor
    # set, `deg` is O(|V|) — shipping every vertex's degree to every
    # executor is the exact defect similarity.jaccard_top_batch fixed
    # in round 2 (review r06)
    return deg.join(F.broadcast(common), on="id")


def adamic_adar(graph: PropertyGraph, a: str, b: str,
                direction: str = BOTH, labels: list[str] | None = None,
                max_degree: int = NO_LIMIT,
                engine: str = "auto") -> DataFrame:
    """Adamic-Adar Σ_z 1/ln(deg(z)) over common neighbors z
    (PredictionTraverser.adamicAdar :36-52). Returns (score)."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT):
        return ram.ram_pair_scores(graph, a, b, direction, labels,
                                   "adamic")
    cz = _common_with_degree(graph, a, b, direction, labels, max_degree)
    # deg=1 → ln(deg)=0 → ANSI DIVIDE_BY_ZERO would abort the job
    # (review r06): exclude the undefined term like the non-ANSI
    # NULL-drop did; empty common set scores 0.0, not NULL
    term = F.when(F.log(F.col("degree")) > 0,
                  1.0 / F.log(F.col("degree")))
    return cz.agg(F.round(F.coalesce(F.sum(term), F.lit(0.0)), 6)
                  .alias("score"))


def resource_allocation(graph: PropertyGraph, a: str, b: str,
                        direction: str = BOTH,
                        labels: list[str] | None = None,
                        max_degree: int = NO_LIMIT,
                        engine: str = "auto") -> DataFrame:
    """Resource-Allocation Σ_z 1/deg(z)
    (PredictionTraverser.resourceAllocation :53-…). Returns (score)."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT):
        return ram.ram_pair_scores(graph, a, b, direction, labels, "ra")
    cz = _common_with_degree(graph, a, b, direction, labels, max_degree)
    # degree ≥ 1 by construction (it comes from a groupBy count);
    # only the empty-common-set NULL needs the 0.0 coalesce
    return cz.agg(F.round(F.coalesce(F.sum(1.0 / F.col("degree")),
                                     F.lit(0.0)), 6).alias("score"))


def edge_exists(graph: PropertyGraph, src: str, dst: str,
                label: str | None = None,
                sort_values: str | None = None) -> DataFrame:
    """Edge-existence semi-check (EdgeExistenceTraverser.
    queryEdgeExistence :38-…): returns the matching edge rows
    (src, dst, label, sort_values)."""
    e = graph.edges
    cond = (F.col("src") == src) & (F.col("dst") == dst)
    if label is not None:
        cond = cond & (F.col("label") == label)
    if sort_values is not None:
        cond = cond & (F.col("sort_values") == sort_values)
    return e.filter(cond).select("src", "dst", "label", "sort_values")


def _step_adj(graph: PropertyGraph, st: dict) -> DataFrame:
    return prepared_adj(graph, st.get("direction", OUT),
                        st.get("labels"), st.get("max_degree", NO_LIMIT),
                        st.get("skip_degree", NO_LIMIT))


def count_steps(graph: PropertyGraph, source: str,
                steps: list[dict], dedup: bool = False,
                dedup_size: int = 0,
                contains_traversed: bool = False,
                engine: str = "auto") -> DataFrame:
    """Multi-step count (CountTraverser.java:47-…): expand through
    ``steps`` (each {direction, labels, max_degree, skip_degree}) and
    count the edges traversed at the final step. Returns (cnt).

    ``dedup_size`` mirrors CountTraverser's global dedupSet (default
    1000000 in the REST API; 0 = off, -1 = unbounded): a vertex is
    expanded at most once across the whole traversal, and final-layer
    targets are counted once. Documented deviation: the reference
    applies the set during a LAZY depth-first interleave of the step
    iterators, so whether a vertex is "expanded" or "counted" can
    depend on backend edge order (CountApiTest's count=3 arises from
    created-label edges sorting before knows ones); ours is
    level-synchronous (each layer fully dedups against the previous
    layers) which is deterministic and order-independent — the natural
    set-oriented semantics at scale. A positive ``dedup_size`` caps
    the visited set: once full, further vertices may be re-expanded
    (we admit min-id first, deterministically).

    ``contains_traversed`` adds the source and every intermediate edge
    to the count (CountTraverser.java:56-60,100-108).

    ``dedup`` → distinct final arrivals (legacy flag, kept for the
    simple distinct-count form)."""
    if ram.takes_ram(graph, engine, all(
            st.get("max_degree", NO_LIMIT) == NO_LIMIT
            and st.get("skip_degree", NO_LIMIT) == NO_LIMIT
            for st in steps)):
        return ram.ram_count_steps(graph, source, steps, dedup,
                                   dedup_size, contains_traversed)
    spark = graph.spark
    n = len(steps)
    cur = spark.createDataFrame([(source,)], "id string")
    parts: list[DataFrame] = []
    if contains_traversed:
        parts.append(spark.createDataFrame([(1,)], "cnt bigint"))

    def _cnt(df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))

    if not dedup_size:
        for i, st in enumerate(steps):
            adj = _step_adj(graph, st)
            cur = (adj.join(F.broadcast(cur), on=adj.src == cur.id)
                   .select(F.col("dst").alias("id")))
            # multiset semantics between steps: every arrival continues
            if contains_traversed and i < n - 1:
                parts.append(_cnt(cur))
        parts.append(_cnt(cur.distinct() if dedup else cur))
    else:
        capped = dedup_size > 0 and dedup_size != NO_LIMIT
        visited = cur
        arrivals = cur  # level-0 "arrivals" = the source itself
        for i, st in enumerate(steps[:-1]):
            srcs = (arrivals if i == 0 else
                    arrivals.distinct().join(visited, on="id",
                                             how="left_anti"))
            if i > 0:
                add = srcs
                if capped:
                    room = max(dedup_size - visited.count(), 0)
                    add = srcs.orderBy("id").limit(room)
                visited = visited.unionByName(add).localCheckpoint()
            arrivals = (_step_adj(graph, st)
                        .join(F.broadcast(srcs), on=F.col("src") == srcs.id)
                        .select(F.col("dst").alias("id")))
            if contains_traversed:
                parts.append(_cnt(arrivals))
        last_src = (arrivals if n == 1 else
                    arrivals.distinct().join(visited, on="id",
                                             how="left_anti"))
        parts.append(_cnt(
            _step_adj(graph, steps[-1])
            .join(F.broadcast(last_src), on=F.col("src") == last_src.id)))
    total = parts[0]
    for p in parts[1:]:
        total = total.unionByName(p)
    return total.agg(F.sum("cnt").cast("bigint").alias("cnt"))


def same_neighbors_multi(graph: PropertyGraph, ids: list[str],
                         direction: str = BOTH,
                         labels: list[str] | None = None,
                         max_degree: int = NO_LIMIT,
                         limit: int = NO_LIMIT,
                         engine: str = "auto") -> DataFrame:
    """N-way common neighbors (SameNeighborTraverser.java:68-… /
    SameNeighborsAPI POST `vertex_list`): vertices adjacent to EVERY
    member of ``ids``. One pass: filter adjacency to the source set,
    count distinct sources per neighbor, keep full-count rows — no
    N-way intersect chain. Returns (id)."""
    if len(set(ids)) < 2:
        raise ValueError("vertex_list size can't be less than 2")
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT):
        return ram.ram_same_neighbors_multi(graph, ids, direction,
                                            labels, limit)
    uniq = sorted(set(ids))
    adj = prepared_adj(graph, direction, labels, max_degree)
    common = (adj.filter(F.col("src").isin(uniq))
              .select("src", "dst").distinct()
              .groupBy("dst")
              .agg(F.count(F.lit(1)).alias("__k"))
              .filter(F.col("__k") == len(uniq))
              .select(F.col("dst").alias("id")))
    if limit != NO_LIMIT:
        common = common.orderBy("id").limit(limit)
    return common
