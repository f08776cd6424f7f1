"""Similarity traversers: jaccard top-N and fusiform similarity.

Reference: JaccardSimilarTraverser.jaccardSimilars (top-N mode,
core/traversal/algorithm/JaccardSimilarTraverser.java:80-101),
FusiformSimilarityTraverser.java:68-81 (+ job variant
core/job/algorithm/similarity/FusiformSimilarityAlgorithm.java).

Both are one-shot set algebra — no iteration:
  neighbors:    nbr(v, n)           (distinct pairs)
  intersection: nbr ⋈ nbr on n      (one shuffle on n)
  sizes:        groupBy(v).count    (one shuffle on v)

At scale the intersection join shuffles on the *neighbor* id — the
natural key (common neighbors co-locate); skew on celebrity
neighbors is bounded by max_degree (the reference's guard) and AQE
skew splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from incubator_hugegraph_spark.graph import (
    BOTH, NO_LIMIT, OUT, PropertyGraph, checkpointed)
from incubator_hugegraph_spark.operators import bfs as _bfs
from incubator_hugegraph_spark.operators.bfs import prepared_adj


def _nbrs(graph: PropertyGraph, direction: str,
          labels: list[str] | None, max_degree: int) -> DataFrame:
    """Distinct neighbor pairs, checkpointed: every similarity
    operator consumes this table 2-3 times (degree table + both join
    sides). A persist would re-embed the full adj subtree in the plan
    at every consumption (AQE re-plans each copy — see
    fusiform_similarity's `a` note); the checkpoint materializes once
    and collapses each consumption to a shallow RDD leaf."""
    return checkpointed(
        prepared_adj(graph, direction, labels, max_degree)
        .select("src", "dst").distinct())


def jaccard_top(graph: PropertyGraph, source: str, top: int,
                direction: str = BOTH, labels: list[str] | None = None,
                max_degree: int = NO_LIMIT,
                engine: str = "auto") -> DataFrame:
    """Top-N vertices most Jaccard-similar to ``source``
    (JaccardSimilarTraverser.jaccardSimilars :80-101). Candidates are
    the 2-hop neighborhood (any vertex sharing ≥1 neighbor). Returns
    (id, jaccard) — ties broken by id asc (deterministic deviation
    from the reference's insertion order)."""
    if engine != "dist" and max_degree == NO_LIMIT:
        from incubator_hugegraph_spark.ram import (ram_fits,
                                                   ram_jaccard_top_batch)
        if engine == "ram" or ram_fits(graph):
            return ram_jaccard_top_batch(
                graph, [source], top, direction, labels).drop("source")
    nbr = _nbrs(graph, direction, labels, max_degree)
    src_n = nbr.filter(F.col("src") == source) \
        .select(F.col("dst").alias("n"))
    sizes = nbr.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    s_size = sizes.filter(F.col("src") == source) \
        .select(F.col("deg").alias("s_deg"))
    # same gate as jaccard_top_batch: one supernode source's neighbor
    # list with max_degree=NO_LIMIT is not broadcastable. The gate only
    # needs the boolean "under the limit", so the probe is limit-bounded
    # (the data/similarity.py:218 idiom) — an unbounded count() here was
    # a full extra job over the neighbor list per call (review r08).
    sn = (F.broadcast(src_n)
          if src_n.limit(_bfs.BROADCAST_FRONTIER_LIMIT + 1).count()
          <= _bfs.BROADCAST_FRONTIER_LIMIT
          else src_n)
    inter = (nbr.join(sn, on=nbr.dst == src_n.n)
             .filter(F.col("src") != source)
             .groupBy("src").agg(F.count(F.lit(1)).alias("inter")))
    return (inter.join(sizes, on="src").crossJoin(F.broadcast(s_size))
            .select(F.col("src").alias("id"),
                    F.round(F.col("inter") /
                            (F.col("deg") + F.col("s_deg") - F.col("inter")),
                            6).alias("jaccard"))
            .orderBy(F.desc("jaccard"), F.asc("id"))
            .limit(top))


def jaccard_top_batch(graph: PropertyGraph, sources: list[str], top: int,
                      direction: str = BOTH,
                      labels: list[str] | None = None,
                      max_degree: int = NO_LIMIT,
                      engine: str = "auto") -> DataFrame:
    """Batched jaccard_top: top-N similar vertices for EVERY source in
    one set-oriented job (the REST endpoint's batch form; a per-source
    driver loop would serialize |sources| Spark jobs). Returns
    (source, id, jaccard). Same semantics as jaccard_top per source."""
    # a repeated source would repeat its neighbor rows in src_n and
    # double every intersection count (jaccard = 2.0); first-seen order
    sources = list(dict.fromkeys(sources))
    if engine != "dist" and max_degree == NO_LIMIT:
        from incubator_hugegraph_spark.ram import (ram_fits,
                                                   ram_jaccard_top_batch)
        if engine == "ram" or ram_fits(graph):
            return ram_jaccard_top_batch(graph, sources, top, direction,
                                         labels)
    # §2.3 narrower types (r11 session 2): the neighbor table is keyed
    # by the graph's order-preserving vertex index, so the
    # intersection join on n and the (source, candidate) count
    # aggregation run on longs; EXACT (jaccard is an integer-count
    # ratio, ranks tie-break on the preserved id order). Decoded after
    # the rank filters. Interleaved A/B at sf0.1 (3 pairs, best-of-3):
    # 9.94/5.98/4.96 -> 6.21/4.93/4.43 s. The same encode was MEASURED
    # AND REJECTED for fusiform_similarity (+1.5-2 s, 3/3 pairs — its
    # table is prefix-filtered small and alpha-pruned, so the index
    # build + encode broadcasts outweigh the probe win) and
    # triangle_count (+0.3-1 s, 3/3 quiet pairs — the oriented wedge
    # semi-join is already cheap per row); those keep string keys.
    from incubator_hugegraph_spark.algorithms.pagerank import (
        BROADCAST_VERTEX_LIMIT, decode_ids, encode_edges, indexed)
    idx, n = indexed(graph)
    bcast = n <= BROADCAST_VERTEX_LIMIT
    nbr = checkpointed(encode_edges(
        graph, prepared_adj(graph, direction, labels, max_degree)
        .select("src", "dst"), bcast).distinct())
    # sources joined to their encoded ids (the tiny source list is the
    # broadcast side); svi rides src_n so the candidate != source
    # filter compares the encoded ids
    sdf = graph.spark.createDataFrame([(s,) for s in sources],
                                      "source string")
    sdf = (idx.join(F.broadcast(sdf), on=idx.id == sdf.source)
           .select("source", F.col("vi").alias("svi")))
    sizes = nbr.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    src_n = (nbr.join(F.broadcast(sdf), on=nbr.src == sdf.svi)
             .select("source", "svi", F.col("dst").alias("n")))
    # src_n is |sources|·degree rows: with max_degree=NO_LIMIT and a
    # supernode source it is NOT broadcastable (review r06 — the REST
    # door caps degree at 10k, but the direct API must not melt an
    # executor). Same two-tier gate as bfs.expand, but the probe is
    # limit-bounded (review r08): the gate only needs "≤ limit?", so
    # scanning stops after BROADCAST_FRONTIER_LIMIT+1 rows instead of
    # counting all |sources|·degree rows on the hot path.
    # b5_dist drift attribution (r08, the pagerank.py A/B method —
    # interleaved git-archive trees, sf0.1, best-of-3 × 2 rounds):
    # r07 tree (unbounded count) 9.81/8.32 s, r06 tree (no gate)
    # 9.88/9.16 s, current (bounded probe) 8.79/8.25 s — trees are
    # within noise of each other while ALL sit ~2× above the driver's
    # r06/r07 readings (4.27/5.46 s), so the +28% r07 drift was host
    # drift, and the bounded probe leaves the current tree at least
    # as fast as the pre-gate r06 code.
    src_n_rows = src_n.limit(_bfs.BROADCAST_FRONTIER_LIMIT + 1).count()
    sn = (F.broadcast(src_n)
          if src_n_rows <= _bfs.BROADCAST_FRONTIER_LIMIT
          else src_n)
    inter = (nbr.join(sn, on=nbr.dst == src_n.n)
             .filter(F.col("src") != F.col("svi"))
             .groupBy("source", "svi", F.col("src").alias("id"))
             .agg(F.count(F.lit(1)).alias("inter")))
    # Only |sources| degree rows can ever match — semi-filter the O(|V|)
    # degree table down to the source list BEFORE broadcasting it
    # (round-2 verdict: broadcasting all of `sizes` ships every vertex's
    # degree to every executor). The filter is keyed on svi, the encoded
    # source id, so s_deg keeps one row per source and needs no source
    # column.
    s_deg = (sizes.join(F.broadcast(sdf), on=sizes.src == sdf.svi,
                        how="left_semi")
             .select(F.col("src").alias("svi"), F.col("deg").alias("s_deg")))
    scored = (inter
              .join(sizes.withColumnRenamed("src", "id"), on="id")
              .join(F.broadcast(s_deg), on="svi")
              .select("source", "id",
                      F.round(F.col("inter")
                              / (F.col("deg") + F.col("s_deg")
                                 - F.col("inter")), 6).alias("jaccard")))
    # A supernode source's 2-hop candidate set can approach |V|; a
    # plain Window.partitionBy(source) puts it all in one task. Same
    # salted two-phase pattern as data/similarity._topk_per_query
    # (review r06): a salted local rank caps any task at
    # ~candidates/32, the final rank sees ≤ 32·top rows per source.
    # Identical (jaccard desc, id asc) order in both phases, so the
    # result is bit-identical to the single-window form. The salt
    # phase is skipped below the broadcast gate's threshold — if the
    # sources' combined neighbor lists fit a broadcast, per-source
    # candidate sets are nowhere near a task's capacity.
    w2 = Window.partitionBy("source").orderBy(F.desc("jaccard"),
                                              F.asc("id"))
    if src_n_rows <= _bfs.BROADCAST_FRONTIER_LIMIT:
        ranked = (scored.withColumn("__rn", F.row_number().over(w2))
                  .filter(F.col("__rn") <= top).drop("__rn"))
    else:
        w1 = Window.partitionBy("source", "__salt").orderBy(
            F.desc("jaccard"), F.asc("id"))
        ranked = (scored
                  .withColumn("__salt", F.pmod(F.hash("id"), F.lit(32)))
                  .withColumn("__r1", F.row_number().over(w1))
                  .filter(F.col("__r1") <= top)
                  .withColumn("__rn", F.row_number().over(w2))
                  .filter(F.col("__rn") <= top)
                  .drop("__r1", "__rn", "__salt"))
    # the ranked candidates' encoded ids back to vertex ids: one join
    # over ≤ sources·top rows
    return decode_ids(graph, ranked, bcast, "id")


def fusiform_similarity(graph: PropertyGraph,
                        source_label: str,
                        direction: str = OUT,
                        labels: list[str] | None = None,
                        min_neighbors: int = 1,
                        alpha: float = 0.5,
                        min_similars: int = 1,
                        top: int = NO_LIMIT,
                        max_degree: int = NO_LIMIT,
                        hub_degree: int = 256,
                        group_property: str | None = None,
                        min_groups: int = 0,
                        engine: str = "auto") -> DataFrame:
    """Fusiform similarity over all sources of ``source_label``
    (FusiformSimilarityTraverser.java:68-81; job variant
    FusiformSimilarityAlgorithm.java): candidate c is similar to
    source s if they share ≥ alpha·|N(s)| neighbors; sources need
    ≥ min_neighbors neighbors and ≥ min_similars matches. Returns
    (source, similar, score) with score = |N(s)∩N(c)| / |N(s)|,
    top-N per source by (score desc, id asc)."""
    if (engine != "dist" and max_degree == NO_LIMIT
            and group_property is None):
        from incubator_hugegraph_spark.ram import (ram_fits,
                                                   ram_fusiform_similarity)
        if engine == "ram" or ram_fits(graph):
            return ram_fusiform_similarity(
                graph, source_label, direction, labels, min_neighbors,
                alpha, min_similars, top)
    prefix = source_label + "!"
    # Both ends of a fusiform match carry the source label, so the
    # prefix filter is applied BEFORE the distinct (it reaches the
    # parquet scan); source degree == |a per s|.
    # checkpointed, not persisted: `a` feeds ~6 sub-plans (hub table,
    # light/heavy splits, degree aggregates) and a persist would embed
    # the full adj subtree at every consumption — the assembled plan
    # reaches ~1.4 MB of text / 400 Exchange nodes and AQE re-plans
    # every copy, minutes of driver overhead at sf0.1. The checkpoint
    # collapses each consumption to one shallow RDD leaf.
    a = checkpointed(
        prepared_adj(graph, direction, labels, max_degree)
        .filter(F.col("src").startswith(prefix))
        .select(F.col("src").alias("s"), F.col("dst").alias("n"))
        .distinct())
    src_deg = (a.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
               .filter(F.col("deg") >= min_neighbors))
    # Hub-split exact common-neighbor counting (the A·Aᵀ step).
    # Counting via a plain self-join on the shared neighbor n costs
    # Σ_n d(n)² pairs — on power-law graphs the handful of heavy hubs
    # dominate (at sf0.1 the 25 nation hubs alone emit 9.2M pairs,
    # nearly all discarded by the alpha filter). Split on hub degree:
    #   light hubs (d ≤ H): pair-expand + count (bounded by H·|E|)
    #   heavy hubs (d > H): per-vertex sorted arrays (≤ #heavy hubs
    #     each) intersected per CANDIDATE pair only
    # A qualifying pair with no light common neighbor needs
    # alpha·deg(s) ≤ overlap ≤ deg_heavy(s), so heavy-only pair
    # expansion is restricted to the (rare) sources with
    # deg_heavy ≥ alpha·deg — exact, never enumerates heavy-hub
    # pairs for ordinary vertices. Join strategy is left to AQE: the
    # hub/heavy tables are aggregates, broadcastable when small.
    hub_cap = F.lit(int(hub_degree))
    hub = a.groupBy("n").agg(F.count(F.lit(1)).alias("hd"))
    heavy_hubs = hub.filter(F.col("hd") > hub_cap).select("n")
    a_light = a.join(heavy_hubs, on="n", how="left_anti")
    a_heavy = a.join(heavy_hubs, on="n", how="left_semi")
    common_light = (a_light
                    .join(a_light.select(F.col("s").alias("c"), "n"), on="n")
                    .filter(F.col("c") != F.col("s"))
                    .groupBy("s", "c").agg(F.count(F.lit(1)).alias("cl")))
    hs = a_heavy.groupBy("s").agg(
        F.sort_array(F.collect_list("n")).alias("hn"))
    deg_heavy = a_heavy.groupBy("s").agg(F.count(F.lit(1)).alias("dh"))
    q = (src_deg.join(deg_heavy, on="s")
         .filter(F.col("dh") >= F.lit(alpha) * F.col("deg")).select("s"))
    cand_heavy = (a_heavy.join(q, on="s", how="left_semi")
                  .join(a_heavy.select(F.col("s").alias("c"), "n"), on="n")
                  .filter(F.col("c") != F.col("s"))
                  .select("s", "c").distinct())
    empty_arr = F.array().cast("array<string>")

    def _plus_heavy(pairs: DataFrame, base) -> DataFrame:
        return (pairs
                .join(hs.select("s", F.col("hn").alias("hn_s")),
                      on="s", how="left")
                .join(hs.select(F.col("s").alias("c"),
                                F.col("hn").alias("hn_c")),
                      on="c", how="left")
                .withColumn(
                    "common",
                    base + F.size(F.array_intersect(
                        F.coalesce("hn_s", empty_arr),
                        F.coalesce("hn_c", empty_arr))))
                .select("s", "c", "common"))

    # pairs with ≥1 light common (one pass), plus heavy-only pairs
    # not already counted — common_light is checkpointed (not
    # persisted) because both branches consume it and the plan must
    # stay shallow (see `a` above)
    common_light = checkpointed(common_light)
    # Alpha-bound prune BEFORE the heavy-array intersection: the true
    # overlap is common = cl + |H(s)∩H(c)| ≤ cl + min(dh(s), dh(c)),
    # so any pair with (cl + min(dh_s, dh_c)) < alpha·deg(s) can never
    # reach score ≥ alpha — drop it using only the tiny per-vertex
    # heavy-degree aggregate (broadcast-sized) instead of running the
    # sorted-array joins over every co-neighbor pair. At sf0.1 /
    # alpha=0.8 this cuts the _plus_heavy input from ~2.1M pairs to
    # ~none; the prune is exact, not a heuristic.
    dh_s = deg_heavy.select("s", F.col("dh").alias("dh_s"))
    dh_c = deg_heavy.select(F.col("s").alias("c"),
                            F.col("dh").alias("dh_c"))
    cand_light = (common_light
                  .join(src_deg, on="s")
                  .join(dh_s, on="s", how="left")
                  .join(dh_c, on="c", how="left")
                  .filter((F.col("cl")
                           + F.least(F.coalesce(F.col("dh_s"), F.lit(0)),
                                     F.coalesce(F.col("dh_c"), F.lit(0))))
                          >= F.lit(alpha) * F.col("deg"))
                  .select("s", "c", "cl"))
    common = _plus_heavy(cand_light, F.col("cl")).unionByName(
        _plus_heavy(cand_heavy.join(common_light.select("s", "c"),
                                    on=["s", "c"], how="left_anti"),
                    F.lit(0)))
    scored = (common
              .join(src_deg, on="s")
              .withColumn("score", F.col("common") / F.col("deg"))
              .filter(F.col("score") >= alpha))
    # min_similars per source
    ok = (scored.groupBy("s").agg(F.count(F.lit(1)).alias("n_sim"))
          .filter(F.col("n_sim") >= min_similars).select("s"))
    scored = scored.join(ok, on="s")
    if top != NO_LIMIT:
        w = Window.partitionBy("s").orderBy(F.desc("score"), F.asc("c"))
        scored = (scored.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") <= top).drop("__rn"))
    if group_property is not None:
        # group-diversity gate AFTER top-N (FusiformSimilarityTraverser
        # :186-197): distinct group_property values over {source} ∪
        # top similars must reach min_groups, else the source is
        # dropped entirely
        gp = graph.vertices.select(
            "id", F.element_at(F.col("props"),
                               F.lit(group_property)).alias("__g"))
        members = (scored.select("s", F.col("c").alias("id"))
                   .unionByName(scored.select("s", F.col("s").alias("id"))
                                .distinct()))
        ok_groups = (members.join(gp, on="id")
                     .groupBy("s")
                     .agg(F.countDistinct("__g").alias("__ng"))
                     .filter(F.col("__ng") >= min_groups).select("s"))
        scored = scored.join(ok_groups, on="s")
    return scored.select(F.col("s").alias("source"),
                         F.col("c").alias("similar"),
                         F.round("score", 6).alias("score"))
