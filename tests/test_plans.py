"""Physical-plan regression guards: the properties that make the
engine scale are asserted on `.explain` output, not assumed.

- predicate pushdown + column pruning reach the parquet scan
- BFS expansion broadcasts the frontier (edge side never shuffles)
- a pagerank round's message aggregation runs with no edge-side
  shuffle exchange (the dst-partitioned cache is load-bearing)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    df = (spark.read.parquet(f"{SF_DIR}/part.parquet")
          .filter(F.col("p_size") > 20).select("p_partkey", "p_size"))
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(p_size,20)" in plan, plan


def test_column_pruning_reaches_parquet(spark):
    df = (spark.read.parquet(f"{SF_DIR}/part.parquet")
          .select("p_partkey", "p_size"))
    plan = _plan(df)
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "p_partkey" in scan_line and "p_size" in scan_line
    assert "p_brand" not in scan_line, scan_line


def test_bfs_expand_broadcasts_frontier(graph):
    from incubator_hugegraph_spark.operators.bfs import (
        expand, prepared_adj, sources_df)
    adj = prepared_adj(graph, "OUT", None, -1)
    frontier = sources_df(graph, ["customer!0", "customer!1"])
    plan = _plan(expand(frontier, adj))
    assert "BroadcastHashJoin" in plan, plan
    # the big (edge) side must not be exchanged for the join itself:
    # the only exchange allowed below the join is the broadcast one
    join_part = plan.split("BroadcastHashJoin", 1)[1]
    assert "BroadcastExchange" in join_part or "BroadcastQueryStage" \
        in plan, plan


def test_bfs_frontier_shuffle_fallback(graph, monkeypatch):
    """Past BROADCAST_FRONTIER_LIMIT the BFS layer joins fall back to
    shuffle joins (no BroadcastHashJoin on the frontier) with
    identical results."""
    from incubator_hugegraph_spark.operators import bfs as bfsmod
    base = {(r.id, r.dist) for r in
            bfsmod.bfs(graph, ["customer!0", "customer!1"], 2,
                       direction="OUT", engine="dist").collect()}
    monkeypatch.setattr(bfsmod, "BROADCAST_FRONTIER_LIMIT", 1)
    low = bfsmod.bfs(graph, ["customer!0", "customer!1"], 2,
                     direction="OUT", engine="dist")
    assert {(r.id, r.dist) for r in low.collect()} == base
    # the expand shape itself: broadcast=False drops the FORCED
    # broadcast hint (at test scale Catalyst may still pick broadcast
    # from its size stats — that's the planner's call, which is the
    # point; a 100M-row frontier's stats would pick a shuffle join)
    adj = bfsmod.prepared_adj(graph, "OUT", None, -1)
    frontier = bfsmod.sources_df(graph, ["customer!0"])
    hinted = bfsmod.expand(frontier, adj, broadcast=True) \
        ._jdf.queryExecution().analyzed().toString()
    unhinted = bfsmod.expand(frontier, adj, broadcast=False) \
        ._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in hinted
    assert "ResolvedHint" not in unhinted


def test_incremental_wcc_broadcasts_batch(spark):
    """Round-3 scale fix guard (r10: the pair computation moved
    driver-side, so the guarded join is now the endpoint-component
    lookup): the lookup must broadcast the O(batch) vertex list
    (BuildRight — the vertex list is the right operand), never the
    O(|V|) component state (which would be BuildLeft)."""
    from incubator_hugegraph_spark.streaming.incremental import (
        _endpoint_components)
    state = (spark.read.parquet(f"{SF_DIR}/customer.parquet")
             .select(F.concat(F.lit("customer!"), "c_custkey").alias("id"))
             .withColumn("component", F.col("id")))
    vdf = spark.createDataFrame(
        [("customer!1",), ("customer!2",), ("customer!3",)],
        "id string")
    plan = _plan(_endpoint_components(state, vdf))
    joins = [l for l in plan.splitlines() if "BroadcastHashJoin" in l]
    assert len(joins) == 1, plan
    assert all("BuildRight" in l for l in joins), plan


def test_jaccard_top_batch_filters_degree_before_broadcast(graph):
    """Round-3 scale fix guard: the source-degree table is semi-joined
    down to |sources| rows before its broadcast — the plan must contain
    the LeftSemi broadcast join, and every BroadcastExchange input must
    be either a LocalTableScan (the source list) or sit above that
    semi-filter, never a bare aggregate of the full edge table."""
    from incubator_hugegraph_spark.operators.similarity import (
        jaccard_top_batch)
    df = jaccard_top_batch(graph, ["customer!1", "customer!2"], 5,
                           engine="dist")
    plan = _plan(df)
    assert "LeftSemi, BuildRight" in plan, plan


def test_jaccard_top_batch_filters_degree_before_broadcast_string_tier(
        graph, monkeypatch):
    """The same source-degree semi-filter on the shuffle tier
    (|V| past BROADCAST_VERTEX_LIMIT)."""
    import incubator_hugegraph_spark.algorithms.pagerank as prmod
    from incubator_hugegraph_spark.operators.similarity import (
        jaccard_top_batch)
    monkeypatch.setattr(prmod, "BROADCAST_VERTEX_LIMIT", 0)
    df = jaccard_top_batch(graph, ["customer!1", "customer!2"], 5,
                           engine="dist")
    plan = _plan(df)
    assert "LeftSemi, BuildRight" in plan, plan


def test_pagerank_round_has_no_edge_shuffle(graph):
    """One pagerank message round over the dst-partitioned cached edge
    table: partial+final HashAggregate with NO shuffle exchange between
    them (only broadcast exchanges appear in the round plan)."""
    from incubator_hugegraph_spark.graph import balanced, checkpointed
    e = balanced(graph.adj("OUT", None).select("src", "dst"),
                 "dst").persist()
    e.count()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = graph.vertices.count()
    ranks = checkpointed(
        graph.vertices.select("id")
        .join(deg.withColumnRenamed("src", "id"), on="id", how="left")
        .withColumn("rank", F.lit(1.0 / n)).repartition(1))
    contrib = (e.join(F.broadcast(ranks), on=e.src == ranks.id)
               .select(F.col("dst").alias("id"),
                       (F.col("rank") / F.col("deg")).alias("msg")))
    incoming = contrib.groupBy("id").agg(F.sum("msg").alias("inc"))
    plan = _plan(incoming)
    e.unpersist()
    # the one-time REPARTITION exchange lives inside the cached
    # table's child plan; the round itself must not add one — i.e. no
    # shuffle exchange between the final and partial HashAggregate
    lines = plan.splitlines()
    aggs = [i for i, l in enumerate(lines) if "HashAggregate" in l]
    assert len(aggs) >= 2, plan
    between = lines[aggs[0] + 1:aggs[1]]
    assert not any("Exchange hashpartitioning" in l for l in between), plan


def test_cypher_list_fns_stay_in_projection(graph):
    """List comprehensions / quantifiers / reduce() compile to Spark
    higher-order functions riding the scan projection: no Exchange,
    no BatchEvalPython in the plan."""
    from incubator_hugegraph_spark.cypher import cypher
    df = cypher(graph, """
        MATCH (p:part)
        RETURN [w IN split(p.type, ' ') WHERE w <> 'X' | tolower(w)]
                 AS words,
               reduce(acc = 0, w IN split(p.type, ' ')
                      | acc + size(w)) AS chars""")
    plan = _plan(df)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Python" not in plan, plan


def test_pattern_pred_is_marker_join_not_cartesian(graph):
    """A pattern predicate compiles to a distinct-endpoint marker
    left-join: no CartesianProduct, and the edge side aggregates to
    distinct keys before joining (never joins raw edge multiplicity
    onto the vertex stream)."""
    from incubator_hugegraph_spark.cypher import cypher
    df = cypher(graph, """
        MATCH (c:customer) WHERE (c)-[:placed]->()
        RETURN count(*) AS n""")
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_gremlin_branch_is_one_union_plan(graph):
    """branch().option() compiles to filtered branch plans unioned in
    ONE Catalyst tree — a Union node, no cartesian, no Python."""
    from incubator_hugegraph_spark.gremlin_text import eval_gremlin
    df = eval_gremlin(
        graph, "g.V().hasLabel('region')"
               ".branch(__.values('name'))"
               ".option('AFRICA', __.values('name'))"
               ".option(Pick.none, __.constant('other'))")
    plan = _plan(df)
    assert "Union" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_stream_enrich_broadcasts_dim(spark):
    """Stream-static enrichment must broadcast the dim side — a
    shuffled stream-static join re-shuffles every micro-batch."""
    from incubator_hugegraph_spark.streaming.events import stream_enrich
    dim = (spark.read.parquet(f"{SF_DIR}/customer.parquet")
           .select(F.col("c_custkey").alias("user_id"),
                   F.col("c_mktsegment").alias("segment")))
    agg = stream_enrich(spark, f"{SF_DIR}/events.parquet", dim)
    analyzed = agg._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in analyzed or "BROADCAST" in analyzed.upper()


def test_cypher_callsub_no_cartesian(graph):
    """CALL { WITH n … } decorrelates to distinct-key execution plus
    an equi-join back — never a cartesian."""
    from incubator_hugegraph_spark.cypher import cypher
    df = cypher(graph, """
        MATCH (n:nation)
        CALL { WITH n MATCH (n)<-[:in_nation]-(c:customer)
               RETURN count(c) AS n_cust }
        RETURN n.name AS nm, n_cust""")
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_shortest_path_anchor_pushes_below_window(graph):
    from incubator_hugegraph_spark.cypher import cypher
    df = cypher(graph, """
        MATCH p = shortestPath(
            (a:customer)-[:interacted*1..3]->(b:customer))
        WHERE a = 'customer!1'
        RETURN b, length(p) AS ln""")
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # the equality anchor must push below the min-length window into
    # the unroll's union branches (never all-pairs-then-filter), and
    # the single-representative row_number must compile to the
    # group-limit form
    assert opt.count("= customer!1") >= 3, opt
    assert "WindowGroupLimit" in opt, opt


def test_salted_join_equivalence_and_spread(spark):
    from incubator_hugegraph_spark.functions.skew import salted_join
    # one hot key (90% of rows) + a long tail
    big = spark.createDataFrame(
        [("hot", i) for i in range(900)]
        + [(f"k{i}", i) for i in range(100)], "k string, v long")
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"D{i}") for i in range(100)],
        "k string, d string")
    plain = big.join(dim, on="k")
    salted = salted_join(big, dim, on=["k"], salts=8)
    assert salted.count() == plain.count() == 1000
    assert sorted(map(tuple, salted.collect())) == \
        sorted(map(tuple, plain.collect()))
    # the hot key really spreads: its rows carry >1 distinct salt
    from pyspark.sql import functions as F
    spread = (big.filter("k = 'hot'")
              .select((F.abs(F.xxhash64("k", "v")) % 8).alias("s"))
              .distinct().count())
    assert spread > 4
    # left joins preserve unmatched rows too
    lonely = big.unionByName(
        spark.createDataFrame([("orphan", 0)], "k string, v long"))
    lj = salted_join(lonely, dim, on=["k"], salts=4, how="left")
    assert lj.filter("k = 'orphan'").count() == 1


def test_element_view_label_filter_in_plan(graph):
    """authorized_element_view's per-element label scoping is a
    Column predicate in the PLAN (the Spark re-expression of
    HugeGraphAuthProxy's per-element matchLabel) — label membership
    filters the vertex scan, and endpoint visibility is an
    id-membership SEMI-JOIN against the filtered vertex table (r06:
    the old id-prefix parse hid edges of vertices written with raw
    explicit ids — r05 ADVICE low)."""
    from incubator_hugegraph_spark.auth import (AuthManager, Permission,
                                                ResourceType,
                                                authorized_element_view)
    am = AuthManager()
    am.create_user("u", "pw")
    am.create_group("g")
    am.belong("u", "g")
    am.create_target("t", "hugegraph",
                     resources=[ResourceType.VERTEX, ResourceType.EDGE],
                     labels=["customer", "interacted"])
    am.grant("g", "t", Permission.READ)
    gv = authorized_element_view(am, "u", "hugegraph", graph)
    vplan = gv.vertices._jdf.queryExecution().analyzed().toString()
    assert "label" in vplan and "customer" in vplan
    eplan = gv.edges._jdf.queryExecution().analyzed().toString()
    assert "interacted" in eplan and "LeftSemi" in eplan
    # both endpoints are gated: two semi-joins on the visible id set
    assert eplan.count("LeftSemi") == 2
    # and the semantics: raw-id endpoints stay visible when granted
    from incubator_hugegraph_spark.graph import PropertyGraph
    spark = graph.spark
    v2 = graph.vertices.unionByName(spark.createDataFrame(
        [("rawid-9", "customer", {}, None)],
        "id string, label string, props map<string,string>, "
        "expired_at timestamp"))
    e2 = graph.edges.limit(0).unionByName(spark.createDataFrame(
        [("customer!1", "rawid-9", "interacted", "", {}, None)],
        "src string, dst string, label string, sort_values string, "
        "props map<string,string>, expired_at timestamp"))
    g2 = PropertyGraph(spark, v2, e2, schema=graph.schema)
    gv2 = authorized_element_view(am, "u", "hugegraph", g2)
    assert gv2.edges.count() == 1
