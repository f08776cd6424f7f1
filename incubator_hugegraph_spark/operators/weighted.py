"""Weighted shortest paths: singlesourceshortestpath /
weightedshortestpath (SingleSourceShortestPathTraverser.java:49-…).

The reference runs driver-side Dijkstra with a priority queue; at
cluster scale the set-oriented equivalent is Bellman-Ford relaxation
(SURVEY §2.D#5): iterate

    dist_{k+1}(v) = min(dist_k(v), min over edges (u,v) of
                        dist_k(u) + w(u,v))

until fixpoint (or a fixed round count for oracle-parity runs). Each
round is one join + one groupBy-min — no priority queue needed, and
partial aggregation keeps the shuffle proportional to the reached
frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incubator_hugegraph_spark import ram
from incubator_hugegraph_spark.graph import NO_LIMIT, PropertyGraph, iterate_hygiene


def weighted_adj(graph: PropertyGraph, weight_by: str,
                 direction: str = "BOTH",
                 labels: list[str] | None = None,
                 default_weight: float = 1.0) -> DataFrame:
    """(src, dst, weight) adjacency for the weighted traversers — the
    REST surface's `weight=<property>` + `direction` parameters
    (SingleSourceShortestPathAPI / WeightedShortestPathAPI). The
    weight is read from the edge props map; missing values fall back
    to ``default_weight`` (reference default_weight semantics)."""
    e = graph.edges.select("src", "dst", "label", "props")
    if labels:
        e = e.filter(F.col("label").isin(labels))
    w = F.coalesce(F.element_at(F.col("props"), F.lit(weight_by))
                   .cast("double"), F.lit(float(default_weight)))
    out = e.select("src", "dst", w.alias("weight"))
    if direction == "OUT":
        return out
    inn = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                   w.alias("weight"))
    if direction == "IN":
        return inn
    return out.unionByName(inn)


def sssp(graph: PropertyGraph, source: str, weighted_edges: DataFrame,
         rounds: int = NO_LIMIT, with_parent: bool = False,
         engine: str = "auto") -> DataFrame:
    """Bellman-Ford SSSP over ``weighted_edges(src, dst, weight)``.

    rounds=NO_LIMIT → iterate to fixpoint (≤ |V|-1 rounds, checked via
    an improvement count per round); fixed ``rounds`` → exactly that
    many relaxations (deterministic partial result, used for
    SQL-oracle parity). Returns (id, dist[, parent]) — parent is the
    min-id predecessor on a best path. Hot graphs relax in the
    RamTable kernel (ram.ram_sssp — identical synchronous recurrence;
    ``engine``: see ``ram.takes_ram``).
    """
    if ram.takes_ram(graph, engine):
        return ram.ram_sssp(graph, source, weighted_edges, rounds,
                            with_parent)
    spark = graph.spark
    e = weighted_edges.select("src", "dst", F.col("weight").cast("double"))
    dist = spark.createDataFrame([(source, 0.0)], "id string, dist double")
    # Bellman-Ford converges in ≤ |V|-1 rounds ONLY without negative
    # cycles — a negative edge under the default BOTH adjacency IS a
    # negative 2-cycle, and the fixpoint loop would submit Spark jobs
    # forever (review r06). Enforce the theoretical bound as a hard
    # cap and report the cycle instead of hanging.
    max_rounds = rounds if rounds != NO_LIMIT \
        else max(1, graph.vertices.count() - 1)
    k = 0
    while True:
        k += 1
        cand = (e.join(F.broadcast(dist), on=e.src == dist.id)
                .select(F.col("dst").alias("id"),
                        (F.col("dist") + F.col("weight")).alias("dist")))
        new = (dist.unionByName(cand)
               .groupBy("id").agg(F.min("dist").alias("dist")))
        new = iterate_hygiene(new, k)
        if rounds != NO_LIMIT:
            dist = new
            if k >= rounds:
                break
        else:
            # fixpoint: stop when no vertex improved
            improved = (new.alias("n")
                        .join(dist.alias("o"), on="id", how="left")
                        .filter(F.col("o.dist").isNull()
                                | (F.col("n.dist") < F.col("o.dist")))
                        .limit(1).count())
            dist = new
            if improved == 0:
                break
            if k >= max_rounds:
                raise ValueError(
                    "sssp: still improving after |V|-1 rounds — the "
                    "graph has a negative cycle reachable from "
                    f"{source!r} (shortest distances are undefined)")
    if not with_parent:
        return dist
    # parent = min-id predecessor u with dist(u) + w(u,v) == dist(v)
    par = (e.join(dist.withColumnRenamed("id", "u")
                  .withColumnRenamed("dist", "du"), on=e.src == F.col("u"))
           .join(dist, on=e.dst == dist.id)
           .filter(F.col("du") + F.col("weight") == F.col("dist"))
           .groupBy("id", "dist").agg(F.min("u").alias("parent")))
    src_row = dist.filter(F.col("id") == source) \
        .withColumn("parent", F.lit(None).cast("string"))
    return par.unionByName(src_row).groupBy("id", "dist") \
        .agg(F.min("parent").alias("parent"))


def weighted_shortest_path(graph: PropertyGraph, source: str, target: str,
                           weighted_edges: DataFrame,
                           rounds: int = NO_LIMIT,
                           engine: str = "auto") -> DataFrame:
    """weightedshortestpath pair mode
    (SingleSourceShortestPathTraverser.java:83-…): Bellman-Ford with
    the target row filtered at the end (early-exit when the target
    settles is subsumed by the fixpoint check). Returns (id, dist)."""
    return sssp(graph, source, weighted_edges, rounds, engine=engine) \
        .filter(F.col("id") == target)
