"""Shuffle-fallback paths exercised at sizes that trigger them
(r04 verdict item 4): the >1M-row broadcast gates in the BFS layer
join, the pagerank/wcc rank vector, and the REST measured path had
never run in anger — sf0.1 is ~19k vertices. These tests force the
gates two ways: (a) monkeypatched thresholds on the real sf graph,
asserting the fallback plan is equivalence-identical to the broadcast
plan, and (b) one genuinely large generated graph (a 1.2M-leaf star)
that trips BOTH the frontier gate and the supernode salt heuristic at
their production values.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import incubator_hugegraph_spark.operators.bfs as bfs_mod
from incubator_hugegraph_spark.graph import PropertyGraph


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_bfs_shuffle_fallback_equivalent(graph, monkeypatch):
    sources = [f"customer!{i}" for i in range(5)]
    want = bfs_mod.bfs(graph, sources, depth=3, direction="OUT",
                       engine="dist")
    want_rows = sorted((r.id, r.dist) for r in want.collect())
    # force the shuffle path from round 1 (gate at 0)
    monkeypatch.setattr(bfs_mod, "BROADCAST_FRONTIER_LIMIT", 0)
    got = bfs_mod.bfs(graph, sources, depth=3, direction="OUT",
                      engine="dist")
    assert sorted((r.id, r.dist) for r in got.collect()) == want_rows


def test_bfs_salted_fallback_equivalent_and_engaged(graph, monkeypatch):
    sources = [f"customer!{i}" for i in range(5)]
    want = bfs_mod.bfs(graph, sources, depth=2, direction="OUT",
                       engine="dist")
    want_rows = sorted((r.id, r.dist) for r in want.collect())
    monkeypatch.setattr(bfs_mod, "BROADCAST_FRONTIER_LIMIT", 0)
    monkeypatch.setattr(bfs_mod, "SALT_DEGREE_THRESHOLD", 1)
    got = bfs_mod.bfs(graph, sources, depth=2, direction="OUT",
                      engine="dist")
    assert sorted((r.id, r.dist) for r in got.collect()) == want_rows


def test_expand_salted_plan_shape(graph):
    """The salted layer join actually salts: __salt keys the join in
    the analyzed plan, and the result matches the broadcast layer."""
    adj = graph.adj("OUT", None).select("src", "dst")
    frontier = graph.spark.createDataFrame(
        [(f"customer!{i}",) for i in range(5)], "id string")
    base = bfs_mod.expand(frontier, adj, broadcast=True)
    salted = bfs_mod.expand(frontier, adj, broadcast=False, salts=8)
    plan = salted._jdf.queryExecution().analyzed().toString()
    assert "__salt" in plan
    assert _ids(base) == _ids(salted)


def test_pagerank_vector_shuffle_fallback(graph, monkeypatch):
    import incubator_hugegraph_spark.algorithms.pagerank as pr_mod
    want = pr_mod.page_rank(graph, alpha=0.15, max_times=5,
                            precision=1e-4, engine="dist")
    want_rows = sorted((r[0], round(r[1], 9)) for r in want.collect())
    monkeypatch.setattr(pr_mod, "BROADCAST_VERTEX_LIMIT", 0)
    got = pr_mod.page_rank(graph, alpha=0.15, max_times=5,
                           precision=1e-4, engine="dist")
    got_rows = sorted((r[0], round(r[1], 9)) for r in got.collect())
    assert got_rows == want_rows


def test_wcc_vector_shuffle_fallback(graph, monkeypatch):
    import importlib
    # algorithms/__init__ re-exports the wcc FUNCTION, which shadows
    # the module on `import pkg.algorithms.wcc as m`
    wcc_mod = importlib.import_module(
        "incubator_hugegraph_spark.algorithms.wcc")
    import incubator_hugegraph_spark.algorithms.pagerank as pr_mod
    want = sorted(tuple(r) for r in
                  wcc_mod.wcc(graph, engine="dist").collect())
    monkeypatch.setattr(pr_mod, "BROADCAST_VERTEX_LIMIT", 0)
    got = sorted(tuple(r) for r in
                 wcc_mod.wcc(graph, engine="dist").collect())
    assert got == want


def test_rest_measured_fallback(graph, monkeypatch):
    from incubator_hugegraph_spark.rest import execute_measured
    req = {"source": '"customer!1"', "max_depth": "2"}
    want = execute_measured(graph, "kneighbor", req)[1]
    monkeypatch.setattr(bfs_mod, "BROADCAST_FRONTIER_LIMIT", 0)
    got = execute_measured(graph, "kneighbor", req)[1]
    assert got == want


@pytest.mark.slow
def test_star_graph_trips_production_gates(spark):
    """1.2M-leaf star: the depth-1 frontier (1.2M rows) exceeds
    BROADCAST_FRONTIER_LIMIT at its PRODUCTION value, and the hub's
    degree exceeds SALT_DEGREE_THRESHOLD — so round 2 runs the salted
    shuffle join in anger, not under a monkeypatch. The star's leaves
    all reconnect to one sink so the salted round has real work."""
    n = 1_200_000
    leaves = spark.range(n).select(
        F.concat(F.lit("leaf!"), F.col("id")).alias("id"),
        F.lit("leaf").alias("label"),
        F.create_map().cast("map<string,string>").alias("props"),
        F.lit(None).cast("timestamp").alias("expired_at"))
    hubs = spark.createDataFrame(
        [("hub!0",), ("sink!0",)], "id string").select(
        "id", F.lit("hub").alias("label"),
        F.create_map().cast("map<string,string>").alias("props"),
        F.lit(None).cast("timestamp").alias("expired_at"))
    out_edges = spark.range(n).select(
        F.lit("hub!0").alias("src"),
        F.concat(F.lit("leaf!"), F.col("id")).alias("dst"))
    back_edges = spark.range(n).select(
        F.concat(F.lit("leaf!"), F.col("id")).alias("src"),
        F.lit("sink!0").alias("dst"))
    edges = out_edges.unionByName(back_edges).select(
        "src", "dst", F.lit("e").alias("label"),
        F.lit("").alias("sort_values"),
        F.create_map().cast("map<string,string>").alias("props"),
        F.lit(None).cast("timestamp").alias("expired_at"))
    g = PropertyGraph(spark, leaves.unionByName(hubs), edges)
    got = bfs_mod.bfs(g, ["hub!0"], depth=2, direction="OUT",
                      engine="dist")
    by_dist = {r.dist: r.cnt for r in
               got.groupBy("dist").agg(F.count("*").alias("cnt"))
               .collect()}
    assert by_dist == {0: 1, 1: n, 2: 1}


@pytest.mark.slow
def test_vector_fallback_trips_production_gates(spark):
    """1.2M vertices > BROADCAST_VERTEX_LIMIT at its PRODUCTION value:
    pagerank and wcc run their shuffle-join vector path for real.
    600k disjoint pairs → wcc converges in one round with exactly
    600k components; pagerank's total mass stays 1 (fixed 2 rounds,
    no convergence collect)."""
    n = 1_200_000
    verts = spark.range(n).select(
        F.concat(F.lit("v!"), F.col("id")).alias("id"),
        F.lit("v").alias("label"),
        F.create_map().cast("map<string,string>").alias("props"),
        F.lit(None).cast("timestamp").alias("expired_at"))
    # pair i <-> i+1 for even i: 600k two-vertex components
    pairs = spark.range(n // 2).select(
        F.concat(F.lit("v!"), F.col("id") * 2).alias("src"),
        F.concat(F.lit("v!"), F.col("id") * 2 + 1).alias("dst"))
    edges = pairs.select(
        "src", "dst", F.lit("e").alias("label"),
        F.lit("").alias("sort_values"),
        F.create_map().cast("map<string,string>").alias("props"),
        F.lit(None).cast("timestamp").alias("expired_at"))
    g = PropertyGraph(spark, verts, edges)

    import importlib
    pr_mod = importlib.import_module(
        "incubator_hugegraph_spark.algorithms.pagerank")
    assert g.vertices.count() > pr_mod.BROADCAST_VERTEX_LIMIT

    wcc_mod = importlib.import_module(
        "incubator_hugegraph_spark.algorithms.wcc")
    comp = wcc_mod.wcc(g, engine="dist")
    assert comp.select("component").distinct().count() == n // 2

    ranks = pr_mod.page_rank(g, alpha=0.15, fixed_rounds=2,
                             engine="dist")
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-6


def test_jaccard_top_batch_shuffle_fallback_equivalent(graph, monkeypatch):
    """VERDICT r06 item 7: jaccard_top_batch's src_n broadcast and its
    per-source rank window must degrade gracefully past the frontier
    gate. Forcing the threshold to 0 flips BOTH (plain shuffle join +
    salted two-phase top-k); results must be bit-identical to the
    broadcast/single-window plan, and the fallback plan must not
    contain a broadcast of src_n."""
    from incubator_hugegraph_spark.operators.similarity import (
        jaccard_top_batch)
    srcs = ["customer!1", "customer!2", "customer!3"]
    want = jaccard_top_batch(graph, srcs, 10, engine="dist")
    want_rows = sorted(map(tuple, want.collect()))
    monkeypatch.setattr(bfs_mod, "BROADCAST_FRONTIER_LIMIT", 0)
    got = jaccard_top_batch(graph, srcs, 10, engine="dist")
    assert sorted(map(tuple, got.collect())) == want_rows
    # the salted pre-rank must be present in the fallback plan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan


def test_jaccard_top_shuffle_fallback_equivalent(graph, monkeypatch):
    """Single-source jaccard_top has the same src_n broadcast gate."""
    from incubator_hugegraph_spark.operators.similarity import (
        jaccard_top)
    want = sorted(map(tuple, jaccard_top(
        graph, "customer!1", 10, engine="dist").collect()))
    monkeypatch.setattr(bfs_mod, "BROADCAST_FRONTIER_LIMIT", 0)
    got = sorted(map(tuple, jaccard_top(
        graph, "customer!1", 10, engine="dist").collect()))
    assert got == want


@pytest.mark.slow  # verify-budget tier (r11): see pytest.ini
def test_ann_salted_topk_fallback_equivalent(spark, monkeypatch):
    """The salted two-phase ANN re-rank went dormant at test SFs once
    the corpus-size gate landed (plain window below 1M candidates).
    Forcing the threshold to 0 must flip every ANN path onto the
    salted plan with bit-identical results — the branch that actually
    runs at 100 TB stays covered."""
    import incubator_hugegraph_spark.data.similarity as sim
    from tests.conftest import SF_DIR
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = [0, 1, 2]
    dim = len(emb.select("embedding").first()[0])
    want_ivf = sorted(map(tuple, sim.ivf_topk(emb, qids, 10).collect()))
    want_lsh = sorted(map(tuple,
                          sim.lsh_ann_topk(emb, qids, 10, dim).collect()))
    monkeypatch.setattr(sim, "SALT_TOPK_MIN_CORPUS", 0)
    got_ivf = sim.ivf_topk(emb, qids, 10)
    plan = got_ivf._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan
    assert sorted(map(tuple, got_ivf.collect())) == want_ivf
    assert sorted(map(tuple, sim.lsh_ann_topk(
        emb, qids, 10, dim).collect())) == want_lsh
