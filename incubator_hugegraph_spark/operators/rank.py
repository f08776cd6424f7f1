"""Rank traversers: personalrank and neighborrank.

personal_rank — PersonalRankTraverser.java:49-134: personalized
PageRank on a bipartite edge label. Mass alternates sides each round:
every ranked vertex distributes rank·alpha/degree along its side's
direction (source-label side OUT, target-label side IN, per edge row
incl. multi-edges); zero-degree vertices keep their rank; the root
re-gains (1-alpha) each round (compensateRoot :128-134). After
max_depth rounds, the root's first-round adjacencies (and the root)
are removed (:69-80), and with_label filters the output side.

neighbor_rank — NeighborRankTraverser.java:50-…: per-layer rank
propagation from a source along a step list. Each step expands the
newest layer; a neighbor already in the current layer or an earlier
layer receives the increment in place (no further propagation);
new vertices form the next layer. DEVIATION (documented): we
classify over *distinct* neighbors (the reference mixes per-edge and
per-set multiplicity depending on iteration order, which is not
reproducible); degree = distinct qualifying neighbors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incubator_hugegraph_spark import ram
from incubator_hugegraph_spark.graph import (
    NO_LIMIT, OUT, PropertyGraph, checkpointed)
from incubator_hugegraph_spark.operators.bfs import prepared_adj

BOTH_LABEL, SAME_LABEL, OTHER_LABEL = "BOTH_LABEL", "SAME_LABEL", "OTHER_LABEL"


def _vlabel(col):
    # ids are 'label!key' (PRIMARY_KEY splicing) — side = label prefix
    return F.substring_index(col, "!", 1)


def personal_rank(graph: PropertyGraph, source: str, label: str,
                  alpha: float = 0.85, max_depth: int = 2,
                  with_label: str = BOTH_LABEL,
                  max_degree: int = NO_LIMIT,
                  engine: str = "auto") -> DataFrame:
    """Returns (id, rank) after ``max_depth`` alternating rounds,
    with root + first-round adjacencies removed. Hot graphs run the
    RamTable vector kernel (ram.ram_personal_rank — identical
    alternating recurrence; ``engine``: see ``ram.takes_ram``, a
    degree cap is dist-only)."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT):
        return ram.ram_personal_rank(graph, source, label, alpha,
                                     max_depth, with_label)
    el = graph.schema.edge_labels[label]
    if el.source_label == el.target_label:
        raise ValueError("personal rank needs a bipartite edge label "
                         "(PersonalRankTraverser.getStartDirection)")
    spark = graph.spark
    e = graph.edges.filter(F.col("label") == label).select("src", "dst")
    deg_out = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    deg_in = e.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))

    ranks = spark.createDataFrame([(source, 1.0)], "id string, rank double")
    root_adj: DataFrame | None = None
    for i in range(max_depth):
        out_side = ranks.filter(_vlabel("id") == el.source_label)
        in_side = ranks.filter(_vlabel("id") == el.target_label)
        contrib_out = (e.join(F.broadcast(out_side), on=e.src == F.col("id"))
                       .join(deg_out, on="src")
                       .select(F.col("dst").alias("id"),
                               (F.col("rank") * alpha / F.col("d"))
                               .alias("rank")))
        contrib_in = (e.join(F.broadcast(in_side), on=e.dst == F.col("id"))
                      .join(deg_in, on="dst")
                      .select(F.col("src").alias("id"),
                              (F.col("rank") * alpha / F.col("d"))
                              .alias("rank")))
        # zero-degree vertices keep their rank (calcNewRanks :104-107)
        kept_out = out_side.join(deg_out.withColumnRenamed("src", "id"),
                                 on="id", how="left_anti")
        kept_in = in_side.join(deg_in.withColumnRenamed("dst", "id"),
                               on="id", how="left_anti")
        root_comp = spark.createDataFrame([(source, 1.0 - alpha)],
                                          "id string, rank double")
        ranks = checkpointed(
            contrib_out.unionByName(contrib_in)
            .unionByName(kept_out).unionByName(kept_in)
            .unionByName(root_comp)
            .groupBy("id").agg(F.sum("rank").alias("rank")))
        if i == 0:
            root_adj = ranks.select("id")
    out = ranks.join(root_adj, on="id", how="left_anti")
    if with_label == SAME_LABEL:
        src_side_label = _vlabel(F.lit(source))
        out = out.filter(_vlabel("id") == src_side_label)
    elif with_label == OTHER_LABEL:
        out = out.filter(_vlabel("id") != _vlabel(F.lit(source)))
    return out.select("id", F.round("rank", 6).alias("rank"))


def neighbor_rank(graph: PropertyGraph, source: str, steps: list[dict],
                  alpha: float = 0.85, engine: str = "auto") -> DataFrame:
    """Returns (id, layer, rank): layer 0 is the source; step t
    produces layer t+1; same-/prev-layer neighbors absorb increments
    in place. Each step: {direction, labels, max_degree, top}. Hot
    graphs run the layered RamTable kernel (ram.ram_neighbor_rank)
    when no step carries a degree cap (``engine``: see
    ``ram.takes_ram``)."""
    if ram.takes_ram(graph, engine, all(
            st.get("max_degree", NO_LIMIT) == NO_LIMIT for st in steps)):
        return ram.ram_neighbor_rank(graph, source, steps, alpha)
    spark = graph.spark
    layers: list[DataFrame] = [
        spark.createDataFrame([(source, 1.0)], "id string, rank double")]
    for t, st in enumerate(steps):
        adj = (prepared_adj(graph, st.get("direction", OUT),
                            st.get("labels"),
                            st.get("max_degree", NO_LIMIT))
               .select("src", "dst").distinct())
        cur = layers[-1]
        # expansion: every edge u→w from the newest layer
        ex = (adj.join(F.broadcast(cur), on=adj.src == cur.id)
              .select(F.col("id").alias("u"), F.col("rank").alias("ru"),
                      F.col("dst").alias("w")))
        deg = ex.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        ex = (ex.join(deg, on="u")
              .withColumn("incr", F.col("ru") * alpha / F.col("d")))
        # classify w: current layer / previous layers / new
        prev_ids = layers[0].select("id")
        for ly in layers[1:-1]:
            prev_ids = prev_ids.unionByName(ly.select("id"))
        cur_ids = cur.select("id")
        inc_by_w = lambda df: df.groupBy(F.col("w").alias("id")) \
            .agg(F.sum("incr").alias("inc"))
        same_inc = inc_by_w(ex.join(cur_ids, on=ex.w == cur_ids.id,
                                    how="left_semi"))
        prev_inc = inc_by_w(ex.join(prev_ids, on=ex.w == prev_ids.id,
                                    how="left_semi"))
        new_rank = (ex.join(cur_ids, on=ex.w == cur_ids.id, how="left_anti")
                    .join(prev_ids, on=ex.w == prev_ids.id, how="left_anti")
                    .groupBy(F.col("w").alias("id"))
                    .agg(F.sum("incr").alias("rank")))
        # apply in-place increments
        def _bump(layer: DataFrame, inc: DataFrame) -> DataFrame:
            return (layer.join(inc, on="id", how="left")
                    .select("id", (F.col("rank")
                                   + F.coalesce(F.col("inc"), F.lit(0.0)))
                            .alias("rank")))
        layers = [_bump(ly, prev_inc) for ly in layers[:-1]] + \
            [_bump(cur, same_inc), checkpointed(new_rank)]
        top = st.get("top", NO_LIMIT)
        if top != NO_LIMIT:
            layers[-1] = (layers[-1]
                          .orderBy(F.desc("rank"), F.asc("id")).limit(top))
    out = None
    for i, ly in enumerate(layers):
        part = ly.select("id", F.lit(i).alias("layer"),
                         F.round("rank", 6).alias("rank"))
        out = part if out is None else out.unionByName(part)
    return out
