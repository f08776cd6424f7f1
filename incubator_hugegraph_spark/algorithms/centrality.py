"""Centrality algorithms: degree, closeness, eigenvector (+ Brandes
betweenness/stress, sampled).

Reference: cent/DegreeCentralityAlgorithm.java (161),
ClosenessCentralityAlgorithm(V2).java, EigenvectorCentralityAlgorithm
.java (99), BetweennessCentralityAlgorithmV2.java (BfsTraverser.java
Brandes machinery), StressCentralityAlgorithm(V2).java.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incubator_hugegraph_spark import ram
from incubator_hugegraph_spark.graph import (
    BOTH,
    NO_LIMIT,
    OUT,
    PropertyGraph,
    checkpointed,
    iterate_hygiene,
)


def degree_centrality(graph: PropertyGraph, direction: str = BOTH,
                      labels: list[str] | None = None,
                      top: int = NO_LIMIT,
                      engine: str = "auto") -> DataFrame:
    """(id, degree) with optional top-N (DegreeCentralityAlgorithm):
    one partial-aggregated groupBy; top-N ties broken by id.
    Hot graphs serve from the RamTable bincount (``engine``: see
    ``ram.takes_ram``, as for every operator of this module)."""
    if ram.takes_ram(graph, engine):
        return ram.ram_degree_centrality(graph, direction, labels, top)
    deg = graph.degrees(direction, labels)
    if top != NO_LIMIT:
        deg = deg.orderBy(F.desc("degree"), F.asc("id")).limit(top)
    return deg


def closeness_centrality(graph: PropertyGraph, sources: list[str],
                         max_depth: int, direction: str = OUT,
                         labels: list[str] | None = None,
                         engine: str = "auto") -> DataFrame:
    """closeness(s) = Σ_{v reached, v≠s} 1/dist(s,v) within max_depth
    (ClosenessCentralityAlgorithm: sampled shortest paths — we take an
    explicit source set; the reference samples). Multi-source BFS in
    one frontier keyed by (origin, vertex). Returns (id, closeness).
    Hot graphs run per-source CSR BFS (ram.ram_closeness)."""
    if ram.takes_ram(graph, engine):
        return ram.ram_closeness(graph, sources, max_depth, direction,
                                 labels)
    spark = graph.spark
    adj = graph.adj(direction, labels).select("src", "dst").distinct()
    frontier = (spark.createDataFrame([(s,) for s in sources],
                                      "origin string")
                .select("origin", F.col("origin").alias("id")))
    visited = frontier.withColumn("dist", F.lit(0))
    for k in range(1, max_depth + 1):
        frontier = (adj.join(F.broadcast(frontier),
                             on=adj.src == frontier.id)
                    .select("origin", F.col("dst").alias("id"))
                    .distinct()
                    .join(visited.select("origin", "id"),
                          on=["origin", "id"], how="left_anti"))
        frontier = iterate_hygiene(frontier, k)
        if frontier.limit(1).count() == 0:
            # BFS exhausted — betweenness/stress probe this too;
            # without it every remaining round ran joins + an eager
            # checkpoint on an empty frontier (review r06)
            break
        visited = visited.unionByName(frontier.withColumn("dist", F.lit(k)))
    return (visited.filter(F.col("dist") > 0)
            .groupBy(F.col("origin").alias("id"))
            .agg(F.round(F.sum(1.0 / F.col("dist")), 6).alias("closeness")))


def eigenvector_centrality(graph: PropertyGraph, rounds: int = 5,
                           direction: str = OUT,
                           labels: list[str] | None = None,
                           top: int = NO_LIMIT,
                           engine: str = "auto") -> DataFrame:
    """Power iteration x ← normalize_L1(Aᵀx), x₀ = 1/N
    (EigenvectorCentralityAlgorithm.java — the reference estimates via
    sampled gremlin walk visit counts; we use the standard
    deterministic power iteration, documented deviation). Returns
    (id, score)."""
    if ram.takes_ram(graph, engine):
        return ram.ram_eigenvector(graph, rounds, direction, labels, top)
    e = graph.adj(direction, labels).select("src", "dst")
    n = graph.vertices.count()
    x = graph.vertices.select("id").withColumn("score", F.lit(1.0 / n))
    for t in range(rounds):
        msg = (e.join(x, on=e.src == x.id)
               .groupBy(F.col("dst").alias("id"))
               .agg(F.sum("score").alias("raw")))
        total = msg.agg(F.sum("raw")).collect()[0][0] or 1.0
        x = (graph.vertices.select("id")
             .join(msg, on="id", how="left")
             .select("id", (F.coalesce(F.col("raw"), F.lit(0.0))
                            / F.lit(total)).alias("score")))
        x = iterate_hygiene(x, t + 1)
    out = x.select("id", F.round("score", 8).alias("score"))
    if top != NO_LIMIT:
        out = out.orderBy(F.desc("score"), F.asc("id")).limit(top)
    return out


def _brandes_dist(graph: PropertyGraph, sources: list[str],
                  max_depth: int, direction: str,
                  labels: list[str] | None, mode: str,
                  out_col: str) -> DataFrame:
    """Shared distributed Brandes spine for betweenness AND stress
    (review r06: the two were ~65 duplicated lines differing only in
    the per-predecessor contribution — the RAM path already models
    this as one ram_brandes(mode)). Forward BFS accumulates path
    counts σ per (origin, vertex); the backward sweep accumulates
    dependencies with the mode's contribution:

      betweenness: δ(v) += σ_v/σ_w · (1 + δ(w))   (ratios)
      stress:      δ(v) += σ_v · (1 + δ(w)/σ_w)   (raw counts)
    """
    spark = graph.spark
    adj = graph.adj(direction, labels).select("src", "dst").distinct()
    frontier = (spark.createDataFrame([(s,) for s in sources],
                                      "origin string")
                .select("origin", F.col("origin").alias("id"),
                        F.lit(0).alias("dist"),
                        F.lit(1.0).alias("sigma")))
    levels = [frontier]
    visited = frontier.select("origin", "id")
    for k in range(1, max_depth + 1):
        prev = levels[-1]
        ext = (adj.join(F.broadcast(prev), on=adj.src == prev.id)
               .select("origin", F.col("dst").alias("id"), "sigma")
               .join(visited, on=["origin", "id"], how="left_anti"))
        nxt = (ext.groupBy("origin", "id")
               .agg(F.sum("sigma").alias("sigma"))
               .withColumn("dist", F.lit(k))
               .select("origin", "id", "dist", "sigma"))
        nxt = checkpointed(nxt)
        if nxt.limit(1).count() == 0:
            break
        levels.append(nxt)
        visited = visited.unionByName(nxt.select("origin", "id"))
    # backward dependency accumulation (δ starts at 0 everywhere)
    delta = None  # rows only for vertices with non-zero δ
    for d in range(len(levels) - 1, 0, -1):
        w_lv = levels[d].select(F.col("origin").alias("w_origin"),
                                F.col("id").alias("w_id"),
                                F.col("sigma").alias("sw"))
        if delta is not None:
            dprev = delta.select(F.col("origin").alias("w_origin"),
                                 F.col("id").alias("w_id"),
                                 F.col("delta").alias("dw"))
            w_lv = (w_lv.join(dprev, on=["w_origin", "w_id"], how="left")
                    .withColumn("dw", F.coalesce("dw", F.lit(0.0))))
        else:
            w_lv = w_lv.withColumn("dw", F.lit(0.0))
        preds = levels[d - 1].select(F.col("origin").alias("p_origin"),
                                     F.col("id").alias("v"),
                                     F.col("sigma").alias("sv"))
        if mode == "betweenness":
            inc = (F.col("sv") / F.col("sw")) * (1.0 + F.col("dw"))
        else:  # stress
            inc = F.col("sv") * (1.0 + F.col("dw") / F.col("sw"))
        contrib = (adj.join(w_lv, on=adj.dst == F.col("w_id"))
                   .join(preds, on=[adj.src == F.col("v"),
                                    F.col("w_origin") == F.col("p_origin")])
                   .select(F.col("p_origin").alias("origin"),
                           F.col("v").alias("id"), inc.alias("inc"))
                   .groupBy("origin", "id").agg(F.sum("inc").alias("delta")))
        delta = contrib if delta is None else \
            (delta.unionByName(contrib)
             .groupBy("origin", "id").agg(F.sum("delta").alias("delta")))
        delta = checkpointed(delta)
    if delta is None:
        return spark.createDataFrame([], f"id string, {out_col} double")
    srcs = spark.createDataFrame([(s,) for s in sources], "sid string")
    return (delta.join(srcs, on=delta.id == srcs.sid, how="left_anti")
            .groupBy("id")
            .agg(F.round(F.sum("delta"), 6).alias(out_col)))


def betweenness_centrality(graph: PropertyGraph, sources: list[str],
                           max_depth: int, direction: str = BOTH,
                           labels: list[str] | None = None,
                           engine: str = "auto") -> DataFrame:
    """Brandes betweenness restricted to an explicit source sample
    (BetweennessCentralityAlgorithmV2.java + BfsTraverser.java:1-151):
    forward BFS accumulates path counts σ, backward sweep accumulates
    dependencies δ(v) = Σ_w σ(v)/σ(w)·(1+δ(w)). All joins, keyed by
    (origin, vertex). Returns (id, betweenness) over non-source
    vertices reached."""
    if ram.takes_ram(graph, engine):
        return ram.ram_brandes(graph, sources, max_depth, direction,
                               labels, mode="betweenness")
    return _brandes_dist(graph, sources, max_depth, direction, labels,
                         "betweenness", "betweenness")


def stress_centrality(graph: PropertyGraph, sources: list[str],
                      max_depth: int, direction: str = BOTH,
                      labels: list[str] | None = None,
                      engine: str = "auto") -> DataFrame:
    """Stress centrality over a source sample
    (cent/StressCentralityAlgorithmV2.java, same BfsTraverser spine as
    betweenness): stress(v) = Σ_{s,t} σ_st(v) — RAW shortest-path
    counts through v, not ratios. Backward recursion
    δ(v) = Σ_{w ∈ succ(v)} σ_sv · (1 + δ(w)/σ_sw); stress = Σ_s δ.
    Returns (id, stress) over non-source vertices reached."""
    if ram.takes_ram(graph, engine):
        return ram.ram_brandes(graph, sources, max_depth, direction,
                               labels, mode="stress")
    return _brandes_dist(graph, sources, max_depth, direction, labels,
                         "stress", "stress")


def hits(graph: PropertyGraph, rounds: int = 3,
         labels: list[str] | None = None,
         top: int = NO_LIMIT) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) — beyond-reference
    OLAP extra alongside k-truss/assortativity: fixed-round power
    iteration on the directed adjacency,

        auth ← normalize(Aᵀ·hub),  hub ← normalize(A·auth)

    with L1 normalization (same scale choice as
    eigenvector_centrality — any positive scaling of the update is a
    valid HITS variant, and L1 keeps the SQL oracle free of
    compounding sqrt rounding). Returns (id, hub, authority),
    round-8. Spark shape per round: two vector⊗edge joins + two
    groupBy sums — the vector rides the broadcastable side under AQE
    exactly like eigenvector's; at a billion vertices the same joins
    become shuffle joins with an identical loop."""
    if rounds < 1:
        # rounds=0 would leave auth=None and crash the final join
        # (review r06); one round is the minimum meaningful HITS step
        raise ValueError("hits: rounds must be >= 1")
    e = graph.adj(OUT, labels).select("src", "dst")
    n = graph.vertices.count()
    hub = graph.vertices.select("id").withColumn("hub", F.lit(1.0 / n))
    auth = None
    for t in range(rounds):
        a_raw = (e.join(hub, on=e.src == hub.id)
                 .groupBy(F.col("dst").alias("id"))
                 .agg(F.sum("hub").alias("raw")))
        a_tot = a_raw.agg(F.sum("raw")).collect()[0][0] or 1.0
        auth = (graph.vertices.select("id")
                .join(a_raw, on="id", how="left")
                .select("id", (F.coalesce(F.col("raw"), F.lit(0.0))
                               / F.lit(a_tot)).alias("authority")))
        auth = iterate_hygiene(auth, 2 * t + 1)
        h_raw = (e.join(auth, on=e.dst == auth.id)
                 .groupBy(F.col("src").alias("id"))
                 .agg(F.sum("authority").alias("raw")))
        h_tot = h_raw.agg(F.sum("raw")).collect()[0][0] or 1.0
        hub = (graph.vertices.select("id")
               .join(h_raw, on="id", how="left")
               .select("id", (F.coalesce(F.col("raw"), F.lit(0.0))
                              / F.lit(h_tot)).alias("hub")))
        hub = iterate_hygiene(hub, 2 * t + 2)
    out = (hub.join(auth, on="id")
           .select("id", F.round("hub", 8).alias("hub"),
                   F.round("authority", 8).alias("authority")))
    if top != NO_LIMIT:
        out = out.orderBy(F.desc("authority"), F.asc("id")).limit(top)
    return out
