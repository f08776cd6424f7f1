"""M5: OLAP algorithm semantics (value parity is the oracle gate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from incubator_hugegraph_spark.algorithms.centrality import (
    betweenness_centrality,
    degree_centrality,
)
from incubator_hugegraph_spark.algorithms.community import (
    k_core,
    louvain,
    lpa,
    modularity,
    triangle_count,
    undirected_edges,
)
from incubator_hugegraph_spark.algorithms.pagerank import page_rank
from incubator_hugegraph_spark.algorithms.wcc import wcc


def test_pagerank_sums_to_one(graph):
    r = page_rank(graph, alpha=0.15, fixed_rounds=3)
    total = r.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9
    assert r.agg(F.min("rank")).collect()[0][0] > 0


def test_pagerank_converges(graph):
    r = page_rank(graph, alpha=0.15, max_times=30, precision=1e-6)
    total = r.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-6


def test_wcc_fixpoint_is_stable(graph):
    c1 = wcc(graph)
    # one connected component expected to dominate; components are
    # closed under adjacency: every edge connects same-component nodes
    adj = graph.adj("BOTH").select("src", "dst")
    joined = (adj.join(c1.withColumnRenamed("id", "src")
                       .withColumnRenamed("component", "cs"), on="src")
              .join(c1.withColumnRenamed("id", "dst")
                    .withColumnRenamed("component", "cd"), on="dst"))
    assert joined.filter(F.col("cs") != F.col("cd")).count() == 0


def test_wcc_int_tier_exact_across_tiers(graph, monkeypatch):
    """r11 session 2 (§2.3 narrower types): the broadcast fixpoint
    tier encodes vertex ids to longs through the ORDER-PRESERVING
    vertex_index, so min/least over the encoding IS the lexicographic
    min — components must decode bit-identical to (a) the RamTable
    kernel, (b) the fixed-rounds loop, and (c) the shuffle fixpoint
    tier (broadcast gate forced off)."""
    import sys
    wccmod = sys.modules["incubator_hugegraph_spark.algorithms.wcc"]

    def exact(a, b):
        j = (a.withColumnRenamed("component", "ca")
             .join(b, on="id", how="full"))
        assert j.filter(F.col("ca").isNull() | F.col("component").isNull()
                        | (F.col("ca") != F.col("component"))).count() == 0

    wd = wcc(graph, engine="dist")          # broadcast tier, fixpoint
    exact(wd, wcc(graph, engine="ram"))
    exact(wd, wcc(graph, fixed_rounds=8))   # broadcast tier, 8 rounds
    monkeypatch.setattr(wccmod, "BROADCAST_VERTEX_LIMIT", 0)
    exact(wd, wcc(graph, engine="dist"))    # shuffle tier, fixpoint


def test_vertex_index_is_order_preserving(graph):
    """The encoded loops' exactness argument rests on this property: the
    encoded longs sort exactly like the vertex-id strings, uniquely."""
    from incubator_hugegraph_spark.algorithms.pagerank import vertex_index
    rows = vertex_index(graph).orderBy("id").collect()
    vis = [r["vi"] for r in rows]
    assert vis == sorted(vis)
    assert len(set(vis)) == len(vis) == graph.vertices.count()


def test_triangle_count_nonnegative(graph):
    t = triangle_count(graph, labels=["interacted"]).collect()[0][0]
    assert t >= 0


def test_kcore_fixpoint_subset_and_valid(graph):
    core = k_core(graph, 3, labels=["supplies"])
    und = undirected_edges(graph, ["supplies"])
    live = (und.join(core, on=und.a == core.id, how="left_semi")
            .join(core, on=und.b == core.id, how="left_semi"))
    deg = (live.select(F.col("a").alias("id"))
           .unionAll(live.select(F.col("b").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("d")))
    assert deg.filter(F.col("d") < 3).count() == 0  # true 3-core


def test_lpa_labels_from_vertex_set(graph):
    lab = lpa(graph, labels=["interacted"], fixed_rounds=2)
    ids = {r["id"] for r in graph.vertices.select("id").collect()}
    assert {r["community"] for r in lab.collect()} <= ids


def test_louvain_improves_modularity(graph):
    und = undirected_edges(graph, ["interacted"])
    edges = und.select("a", "b", F.lit(1.0).alias("w"))
    comm = louvain(graph, labels=["interacted"], passes=1, move_rounds=3)
    # baseline: every vertex its own community → Q ≈ -Σ(k/2m)² < 0
    base = edges.select(F.col("a").alias("id")) \
        .union(edges.select("b")).distinct() \
        .select("id", F.col("id").alias("community"))
    q0 = modularity(edges, base)
    q1 = modularity(edges, comm)
    assert q1 >= q0  # monotone improvement (SURVEY §7.4#3)


def test_betweenness_star_center(spark, graph):
    # star: all shortest paths between leaves pass through the hub
    from incubator_hugegraph_spark.graph import PropertyGraph
    rows = [(f"v!{i}", "v", {}, None) for i in range(5)]
    erows = [(f"v!{i}", "v!0", "e", "", {}, None) for i in range(1, 5)]
    g = PropertyGraph(
        spark=spark,
        vertices=spark.createDataFrame(rows, graph.vertices.schema),
        edges=spark.createDataFrame(erows, graph.edges.schema),
        schema=graph.schema)
    b = {r["id"]: r["betweenness"]
         for r in betweenness_centrality(
             g, [f"v!{i}" for i in range(1, 5)], 3, direction="BOTH")
         .collect()}
    # hub lies on all 4·3 = 12 leaf-pair paths (σ ratio 1 each);
    # each source contributes δ(hub) = 3
    assert b["v!0"] == 12.0


def test_degree_top_deterministic(graph):
    a = [tuple(r) for r in degree_centrality(graph, top=10).collect()]
    b = [tuple(r) for r in degree_centrality(graph, top=10).collect()]
    assert a == b


def test_wcc_star_matches_propagation(spark, graph):
    """Large-star/small-star converges to the same min-id component
    map as plain propagation — on a multi-component graph with a
    long chain (the diameter case star-WCC exists for)."""
    from incubator_hugegraph_spark.graph import PropertyGraph
    from incubator_hugegraph_spark.algorithms.wcc import wcc, wcc_star
    n_chain = 20
    rows = [(f"v!{i:02d}", "v", {}, None) for i in range(n_chain + 8)]
    erows = ([(f"v!{i:02d}", f"v!{i + 1:02d}", "e", "", {}, None)
              for i in range(n_chain - 1)]            # chain diam 19
             + [(f"v!{n_chain + i:02d}", f"v!{n_chain + i + 1:02d}",
                 "e", "", {}, None) for i in (0, 2, 4)])  # three pairs
    g = PropertyGraph(
        spark=spark,
        vertices=spark.createDataFrame(rows, graph.vertices.schema),
        edges=spark.createDataFrame(erows, graph.edges.schema),
        schema=graph.schema)
    a = {r["id"]: r["component"] for r in wcc(g).collect()}
    b = {r["id"]: r["component"] for r in wcc_star(g).collect()}
    assert a == b
    assert len(set(a.values())) == 6  # chain + 3 pairs + 2 isolated


def test_ram_kernels_match_distributed(graph):
    """RamTable-style kernels (ram.py — RamTable.java precedent) must
    equal the distributed loops at oracle precision: page_rank bitwise
    at round-9, wcc exactly."""
    from pyspark.sql import functions as F
    from incubator_hugegraph_spark.algorithms.pagerank import page_rank
    from incubator_hugegraph_spark.algorithms.wcc import wcc

    a = page_rank(graph, alpha=0.15, fixed_rounds=3, engine="dist") \
        .select("id", F.round("rank", 9).alias("r"))
    b = page_rank(graph, alpha=0.15, fixed_rounds=3, engine="ram") \
        .select("id", F.round("rank", 9).alias("r2"))
    j = a.join(b, on="id")
    assert j.count() == a.count()
    assert j.filter(F.col("r") != F.col("r2")).count() == 0

    c = wcc(graph, engine="dist")
    d = wcc(graph, engine="ram")
    j = c.join(d.withColumnRenamed("component", "c2"), on="id")
    assert j.count() == c.count()
    assert j.filter(F.col("component") != F.col("c2")).count() == 0


def test_ram_page_rank_convergence_semantics(graph):
    """The ram kernel honors precision/max_times the same way: with an
    impossible precision it runs max_times rounds and equals the
    distributed fixed-round result."""
    from pyspark.sql import functions as F
    from incubator_hugegraph_spark.algorithms.pagerank import page_rank
    a = page_rank(graph, alpha=0.15, max_times=4, precision=0.0,
                  engine="ram").select("id", F.round("rank", 9).alias("r"))
    b = page_rank(graph, alpha=0.15, fixed_rounds=4, engine="dist") \
        .select("id", F.round("rank", 9).alias("r2"))
    assert a.join(b, on="id").filter(F.col("r") != F.col("r2")).count() == 0


def test_dist_pagerank_piggyback_convergence(graph):
    """The r11 convergence path folds the L1-delta check into the next
    round's mass aggregation (one flat action/round) and flips the
    assembly join so the round's two broadcasts are one reused
    exchange. Semantics pinned: (a) an impossible precision runs all
    max_times rounds and equals the fixed-rounds vector (to the ~1 ULP
    the changed float-sum order allows); (b) an immediately-satisfied
    precision returns the FIRST round's vector — the lagged check must
    return the converged round's vector, not the speculative next
    round's."""
    from incubator_hugegraph_spark.algorithms.pagerank import page_rank

    def close(x, y):
        j = (x.withColumnRenamed("rank", "ra")
             .join(y.withColumnRenamed("rank", "rb"), on="id"))
        assert j.count() == x.count()
        assert j.filter(F.abs(F.col("ra") - F.col("rb")) > 1e-12) \
            .count() == 0

    close(page_rank(graph, alpha=0.15, max_times=3, precision=0.0,
                    engine="dist"),
          page_rank(graph, alpha=0.15, fixed_rounds=3, engine="dist"))
    close(page_rank(graph, alpha=0.15, max_times=5, precision=1e9,
                    engine="dist"),
          page_rank(graph, alpha=0.15, fixed_rounds=1, engine="dist"))


def test_ram_triangles_match_distributed(graph):
    """In-memory wedge kernel equals the distributed oriented-wedge
    plan: total and per-vertex."""
    from pyspark.sql import functions as F
    from incubator_hugegraph_spark.algorithms.community import (
        triangle_count, triangles_per_vertex)
    a = triangle_count(graph, engine="dist").head().triangles
    b = triangle_count(graph, engine="ram").head().triangles
    assert a == b
    ta = triangles_per_vertex(graph, engine="dist") \
        .withColumnRenamed("tri", "t1")
    tb = triangles_per_vertex(graph, engine="ram") \
        .withColumnRenamed("tri", "t2")
    j = ta.join(tb, on="id", how="full")
    assert j.filter(F.coalesce("t1", F.lit(-1))
                    != F.coalesce("t2", F.lit(-2))).count() == 0
    # chunked enumeration must agree with itself at any budget
    from incubator_hugegraph_spark.ram import _closed_wedge_chunks
    small = sum(len(x) for _, x, _, _ in
                _closed_wedge_chunks(graph, None, budget=1000))
    assert small == a


def test_ram_kcore_eigenvector_match_distributed(graph):
    from incubator_hugegraph_spark.algorithms.centrality import (
        eigenvector_centrality)
    from incubator_hugegraph_spark.algorithms.community import k_core
    for kw in [dict(k=2), dict(k=3, labels=["supplies"]),
               dict(k=2, fixed_rounds=2)]:
        a = {r.id for r in k_core(graph, engine="dist", **kw).collect()}
        b = {r.id for r in k_core(graph, engine="ram", **kw).collect()}
        assert a == b, kw
    for kw in [dict(rounds=3, direction="OUT"),
               dict(rounds=2, direction="BOTH", top=25)]:
        a = eigenvector_centrality(graph, engine="dist", **kw) \
            .withColumnRenamed("score", "s1")
        b = eigenvector_centrality(graph, engine="ram", **kw) \
            .withColumnRenamed("score", "s2")
        j = a.join(b, on="id", how="full")
        assert j.filter(F.coalesce("s1", F.lit(-1.0))
                        != F.coalesce("s2", F.lit(-2.0))).count() == 0, kw


def test_ram_lpa_matches_distributed(graph):
    from incubator_hugegraph_spark.algorithms.community import lpa
    for kw in [dict(fixed_rounds=1), dict(fixed_rounds=3),
               dict(fixed_rounds=2, labels=["supplies"])]:
        a = lpa(graph, engine="dist", **kw) \
            .withColumnRenamed("community", "c1")
        b = lpa(graph, engine="ram", **kw) \
            .withColumnRenamed("community", "c2")
        j = a.join(b, on="id", how="full")
        assert j.filter(F.coalesce("c1", F.lit("∅"))
                        != F.coalesce("c2", F.lit("•"))).count() == 0, kw


def test_ram_closeness_matches_distributed(graph):
    from incubator_hugegraph_spark.algorithms.centrality import (
        closeness_centrality)
    srcs = [f"customer!{i}" for i in range(5)] + ["missing!0"]
    for kw in [dict(max_depth=3, direction="OUT",
                    labels=["interacted"]),
               dict(max_depth=2, direction="BOTH")]:
        a = closeness_centrality(graph, srcs, engine="dist", **kw) \
            .withColumnRenamed("closeness", "c1")
        b = closeness_centrality(graph, srcs, engine="ram", **kw) \
            .withColumnRenamed("closeness", "c2")
        j = a.join(b, on="id", how="full")
        assert j.filter(F.coalesce("c1", F.lit(-1.0))
                        != F.coalesce("c2", F.lit(-2.0))).count() == 0, kw


def test_ram_brandes_matches_distributed(graph):
    from incubator_hugegraph_spark.algorithms.centrality import (
        betweenness_centrality, stress_centrality)
    srcs = [f"customer!{i}" for i in range(1, 6)] + ["missing!0"]
    for fn, col in [(betweenness_centrality, "betweenness"),
                    (stress_centrality, "stress")]:
        for kw in [dict(max_depth=3, direction="OUT",
                        labels=["interacted"]),
                   dict(max_depth=2, direction="BOTH",
                        labels=["interacted"])]:
            a = fn(graph, srcs, engine="dist", **kw) \
                .withColumnRenamed(col, "x1") \
                .withColumn("x1", F.round("x1", 6))
            b = fn(graph, srcs, engine="ram", **kw) \
                .withColumnRenamed(col, "x2")
            j = a.join(b, on="id", how="full")
            bad = j.filter(F.coalesce("x1", F.lit(-1.0))
                           != F.coalesce("x2", F.lit(-2.0)))
            assert bad.count() == 0, (col, kw, bad.collect()[:3])


def test_ram_personal_rank_matches_distributed(graph):
    from incubator_hugegraph_spark.operators.rank import personal_rank
    for kw in [dict(max_depth=2), dict(max_depth=3, alpha=0.7),
               dict(max_depth=2, with_label="SAME_LABEL"),
               dict(max_depth=2, with_label="OTHER_LABEL")]:
        a = personal_rank(graph, "order!7", "contains", engine="dist",
                          **kw).withColumnRenamed("rank", "r1")
        b = personal_rank(graph, "order!7", "contains", engine="ram",
                          **kw).withColumnRenamed("rank", "r2")
        j = a.join(b, on="id", how="full")
        assert j.filter(F.coalesce("r1", F.lit(-1.0))
                        != F.coalesce("r2", F.lit(-2.0))).count() == 0, kw


def test_ram_neighbor_rank_matches_distributed(graph):
    from incubator_hugegraph_spark.operators.rank import neighbor_rank
    cases = [
        [{"direction": "OUT", "labels": ["interacted"]},
         {"direction": "OUT", "labels": ["interacted"]}],
        [{"direction": "BOTH", "labels": ["interacted"], "top": 5},
         {"direction": "OUT", "labels": ["interacted"], "top": 3}],
        [{"direction": "OUT", "labels": ["placed"]},
         {"direction": "OUT", "labels": ["contains"]}],
    ]
    for steps in cases:
        a = neighbor_rank(graph, "customer!1", steps, engine="dist") \
            .withColumnRenamed("rank", "r1")
        b = neighbor_rank(graph, "customer!1", steps, engine="ram") \
            .withColumnRenamed("rank", "r2")
        j = a.join(b, on=["id", "layer"], how="full")
        bad = j.filter(F.coalesce("r1", F.lit(-1.0))
                       != F.coalesce("r2", F.lit(-2.0)))
        assert bad.count() == 0, (steps, bad.collect()[:4])
    # absent source still yields the literal layer-0 row
    for eng in ("dist", "ram"):
        rows = neighbor_rank(graph, "missing!0",
                             [{"direction": "OUT"}], engine=eng).collect()
        assert [(r.id, r.layer, r.rank) for r in rows] \
            == [("missing!0", 0, 1.0)]


def test_louvain_separates_cliques(spark, graph):
    """The canonical Louvain sanity case: two K5s joined by one
    bridge edge must resolve into exactly the two cliques (r04 fix —
    the contraction previously dropped intra-community weight instead
    of carrying it as self-loops, Blondel et al. 2008 §2, so pass 2
    merged everything through the bridge)."""
    from incubator_hugegraph_spark.graph import PropertyGraph
    rows = [(f"v!{s}{i}", "v", {}, None) for s in "ab" for i in range(5)]
    erows = [(f"v!{s}{i}", f"v!{s}{j}", "e", "", {}, None)
             for s in "ab" for i in range(5) for j in range(i + 1, 5)]
    erows.append(("v!a0", "v!b0", "e", "", {}, None))
    g = PropertyGraph(
        spark=spark,
        vertices=spark.createDataFrame(rows, graph.vertices.schema),
        edges=spark.createDataFrame(erows, graph.edges.schema))
    part = louvain(g, passes=2, move_rounds=4).localCheckpoint()
    comms: dict = {}
    for r in part.collect():
        comms.setdefault(r.community, set()).add(r.id)
    assert sorted(sorted(v) for v in comms.values()) == [
        [f"v!a{i}" for i in range(5)], [f"v!b{i}" for i in range(5)]]
    und = undirected_edges(g, None)
    edges = und.select("a", "b", F.lit(1.0).alias("w"))
    assert modularity(edges, part) > 0.4


def test_assortativity_and_reciprocity(graph, spark):
    from incubator_hugegraph_spark.algorithms.stats import (
        degree_assortativity, reciprocity)
    r = degree_assortativity(graph, ["interacted"]).head()
    assert -1.0 <= r.assortativity <= 1.0 and r.n_edges > 0
    rec = reciprocity(graph, ["interacted"]).head()
    assert 0.0 <= rec.reciprocity <= 1.0
    assert rec.n_reciprocal <= rec.n_pairs
    # crafted graphs pin the extremes: a pure 2-cycle is fully
    # reciprocal; a star graph is maximally disassortative
    from incubator_hugegraph_spark.graph import PropertyGraph
    def mk(edges):
        e = spark.createDataFrame(
            [(s, d, "x", "", {}, None) for s, d in edges],
            "src string, dst string, label string, sort_values string,"
            " props map<string,string>, expired_at timestamp")
        v = spark.createDataFrame(
            [(x, "v", {}, None)
             for x in {s for s, _ in edges} | {d for _, d in edges}],
            "id string, label string, props map<string,string>,"
            " expired_at timestamp")
        return PropertyGraph(spark=spark, vertices=v, edges=e)
    cyc = mk([("a", "b"), ("b", "a")])
    assert reciprocity(cyc).head().reciprocity == 1.0
    star = mk([("hub", "l1"), ("hub", "l2"), ("hub", "l3")])
    assert degree_assortativity(star).head().assortativity is None \
        or degree_assortativity(star).head().assortativity < 0


def test_temporal_reachability(spark):
    from incubator_hugegraph_spark.graph import PropertyGraph
    from incubator_hugegraph_spark.operators.bfs import (
        temporal_reachability)
    # a -(t1)-> b -(t2)-> c reachable; a -(t3)-> d -(t1)-> e NOT
    # (timestamps must strictly increase); and a later direct edge
    # a -(t5)-> c must lose to the earlier 2-hop arrival t2
    rows = [("a", "b", "2020-01-01"), ("b", "c", "2020-01-02"),
            ("a", "d", "2020-01-03"), ("d", "e", "2020-01-01"),
            ("a", "c", "2020-01-05")]
    e = spark.createDataFrame(
        [(s, d, "interacted", "", {}, None) for s, d, _ in rows],
        "src string, dst string, label string, sort_values string,"
        " props map<string,string>, expired_at timestamp")
    ev = spark.createDataFrame(
        [(s, d, t) for s, d, t in rows],
        "src string, dst string, ts string").select(
        "src", "dst", F.col("ts").cast("timestamp").alias("ts"))
    v = spark.createDataFrame(
        [(x, "v", {}, None) for x in "abcde"],
        "id string, label string, props map<string,string>,"
        " expired_at timestamp")
    g = PropertyGraph(spark=spark, vertices=v, edges=e,
                      edge_views={"interacted": ev})
    got = {r.id: str(r.t)[:10] for r in
           temporal_reachability(g, "a", depth=2).collect()}
    assert got == {"b": "2020-01-01", "c": "2020-01-02",
                   "d": "2020-01-03"}
    # depth=1: direct arrivals only
    d1 = {r.id: str(r.t)[:10] for r in
          temporal_reachability(g, "a", depth=1).collect()}
    assert d1 == {"b": "2020-01-01", "c": "2020-01-05",
                  "d": "2020-01-03"}


def test_k_truss(spark):
    from incubator_hugegraph_spark.algorithms.community import k_truss
    from incubator_hugegraph_spark.graph import PropertyGraph
    # K4 clique (a,b,c,d) + a pendant triangle (d,e,f) + a chain edge
    edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
             ("b", "d"), ("c", "d"), ("d", "e"), ("d", "f"),
             ("e", "f"), ("f", "g")]
    e = spark.createDataFrame(
        [(s, d, "x", "", {}, None) for s, d in edges],
        "src string, dst string, label string, sort_values string,"
        " props map<string,string>, expired_at timestamp")
    v = spark.createDataFrame(
        [(x, "v", {}, None) for x in "abcdefg"],
        "id string, label string, props map<string,string>,"
        " expired_at timestamp")
    g = PropertyGraph(spark=spark, vertices=v, edges=e)
    # 3-truss: every edge in ≥1 triangle → clique + pendant triangle
    t3 = {(r.a, r.b) for r in k_truss(g, k=3).collect()}
    assert t3 == {("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
                  ("b", "d"), ("c", "d"), ("d", "e"), ("d", "f"),
                  ("e", "f")}
    # 4-truss: every edge in ≥2 triangles WITHIN the subgraph → only
    # the K4 survives (the pendant triangle peels away)
    rows = k_truss(g, k=4).collect()
    assert {(r.a, r.b) for r in rows} == {
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
        ("b", "d"), ("c", "d")}
    assert all(r.support == 2 for r in rows)
    # 5-truss of this graph is empty
    assert k_truss(g, k=5).count() == 0


def test_hits_rank(graph):
    """HITS (r05 extra): L1-normalized vectors sum to 1, zero-degree
    vertices score 0, and authorities concentrate on high-indegree
    vertices (nation hubs in the tpch graph)."""
    from incubator_hugegraph_spark.algorithms.centrality import hits
    from pyspark.sql import functions as F
    out = hits(graph, rounds=2)
    sums = out.agg(F.round(F.sum("hub"), 6).alias("h"),
                   F.round(F.sum("authority"), 6).alias("a")).head()
    assert abs(sums.h - 1.0) < 1e-5 and abs(sums.a - 1.0) < 1e-5
    top = out.orderBy(F.desc("authority")).limit(5).collect()
    assert all(r.id.startswith("nation!") or r.id.startswith("part!")
               or r.id.startswith("order!") or r.id.startswith("customer!")
               for r in top)
    assert top[0].authority > 0


def test_canonical_communities_pure_relabel(spark):
    """canonical_communities (r06 verdict item 4) is a pure function
    of the PARTITION: relabeling must preserve membership exactly
    (same groups), label every community by its min member id, and be
    idempotent — so any two runs that agree as partitions hash-agree
    as tables regardless of which representative ids contraction
    picked."""
    from incubator_hugegraph_spark.algorithms.community import (
        canonical_communities)
    part = spark.createDataFrame(
        [("v!3", "c9"), ("v!1", "c9"), ("v!5", "c9"),
         ("v!0", "c7"), ("v!4", "c7"), ("v!2", "c2")],
        "id string, community string")
    got = sorted(map(tuple, canonical_communities(part).collect()))
    assert got == [("v!0", "v!0"), ("v!1", "v!1"), ("v!2", "v!2"),
                   ("v!3", "v!1"), ("v!4", "v!0"), ("v!5", "v!1")]
    # idempotent: canonical labels are themselves member ids
    again = sorted(map(tuple, canonical_communities(
        canonical_communities(part)).collect()))
    assert again == got
