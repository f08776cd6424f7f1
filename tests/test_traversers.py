"""M2: BFS kernel + neighborhood traversers (semantics at sf0.001;
value-level correctness is the DuckDB oracle gate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from incubator_hugegraph_spark.graph import BOTH, OUT
from incubator_hugegraph_spark.operators.bfs import bfs, kneighbor, kout
from incubator_hugegraph_spark.operators.neighbors import (
    count_steps,
    edge_exists,
    jaccard_similarity,
    same_neighbors,
)

SRC = "customer!1"


def test_bfs_layers_disjoint(graph):
    vis = bfs(graph, [SRC], 3, direction=OUT)
    per = vis.groupBy("id").count().agg(F.max("count")).collect()[0][0]
    assert per == 1  # nearest semantics: one dist per vertex
    assert vis.filter(F.col("dist") == 0).collect()[0]["id"] == SRC


def test_kout_subset_of_kneighbor(graph):
    ko = {r["id"] for r in kout(graph, SRC, 2, direction=BOTH).collect()}
    kn = {r["id"] for r in kneighbor(graph, SRC, 2, direction=BOTH).collect()}
    assert ko <= kn
    assert SRC not in kn


def test_kout_nearest_vs_not(graph):
    near = {r["id"] for r in
            kout(graph, SRC, 2, direction=OUT, nearest=True).collect()}
    raw = {r["id"] for r in
           kout(graph, SRC, 2, direction=OUT, nearest=False).collect()}
    assert near <= raw  # non-nearest may re-reach depth-1 vertices


def test_kout_limit_and_degree(graph):
    few = kout(graph, SRC, 2, direction=BOTH, limit=5)
    assert few.count() == 5
    capped = kout(graph, SRC, 2, direction=BOTH, max_degree=2)
    assert capped.count() <= kout(graph, SRC, 2, direction=BOTH).count()


def test_capacity_guard(graph):
    with pytest.raises(Exception, match="apacity"):
        bfs(graph, [SRC], 3, direction=BOTH, capacity=5).count()


def test_same_neighbors_symmetric(graph):
    ab = {r["id"] for r in
          same_neighbors(graph, "customer!1", "customer!2").collect()}
    ba = {r["id"] for r in
          same_neighbors(graph, "customer!2", "customer!1").collect()}
    assert ab == ba


def test_jaccard_bounds(graph):
    v = jaccard_similarity(graph, "customer!1", "customer!2").collect()[0][0]
    assert 0.0 <= v <= 1.0
    self_sim = jaccard_similarity(graph, "customer!1", "customer!1").collect()[0][0]
    assert self_sim == 1.0


def test_edge_exists(graph):
    assert edge_exists(graph, "customer!1", "nation!1000").count() == 0
    # every customer has an in_nation edge
    row = graph.view("customer").filter(F.col("id") == SRC).collect()
    assert row, "fixture has customer!1"


def test_count_steps_multiset_vs_dedup(graph):
    multi = count_steps(graph, SRC, [{"direction": OUT, "labels": ["placed"]},
                                     {"direction": OUT, "labels": ["contains"]}]
                        ).collect()[0][0]
    dedup = count_steps(graph, SRC, [{"direction": OUT, "labels": ["placed"]},
                                     {"direction": OUT, "labels": ["contains"]}],
                        dedup=True).collect()[0][0]
    assert dedup <= multi


def test_customized_kout_step_filters(graph):
    """Per-step edge-property filters (EdgeStep properties): step 2
    keeps only `contains` edges with quantity >= 30; loosening the
    threshold can only grow the reached set."""
    from incubator_hugegraph_spark.operators.bfs import customized_kout
    steps = [{"direction": "OUT", "labels": ["placed"]},
             {"direction": "OUT", "labels": ["contains"],
              "props": {"quantity": ("gte", 30)}}]
    strict = {r.id for r in
              customized_kout(graph, "customer!1", steps).collect()}
    steps_loose = [steps[0],
                   {**steps[1], "props": {"quantity": ("gte", 1)}}]
    loose = {r.id for r in
             customized_kout(graph, "customer!1", steps_loose).collect()}
    assert strict <= loose
    assert all(i.startswith("part!") for i in strict)


def test_customized_kneighbor_first_reach_dist(graph):
    from incubator_hugegraph_spark.operators.bfs import (
        customized_kneighbor, kneighbor)
    # without property filters the 2-step OUT sequence equals plain
    # kneighbor depth=2 OUT
    steps = [{"direction": "OUT"}, {"direction": "OUT"}]
    got = {(r.id, r.dist) for r in
           customized_kneighbor(graph, "customer!1", steps).collect()}
    want = {(r.id, r.dist) for r in
            kneighbor(graph, "customer!1", 2, direction="OUT").collect()}
    assert got == want


def test_traverser_registry_total_over_survey_2d(graph):
    """Every SURVEY §2.D REST endpoint resolves to a callable, and a
    couple of spot-run entries execute through the registry."""
    from incubator_hugegraph_spark import api
    survey_2d = [
        "kout", "kneighbor", "shortestpath", "allshortestpaths",
        "singlesourceshortestpath", "weightedshortestpath",
        "multinodeshortestpath", "paths", "templatepaths",
        "customizedpaths", "customizedcrosspoints", "crosspoints",
        "rays", "rings", "sameneighbors", "jaccardsimilarity",
        "fusiformsimilarity", "adamicadar", "resourceallocation",
        "neighborrank", "personalrank", "count", "edgeexist",
        "vertices", "edges", "vertices/shards", "edges/scan"]
    for name in survey_2d:
        assert callable(api.traverser(name)), name
    out = api.traverser("kout")(graph, "customer!1", 2, direction="OUT")
    assert out.count() > 0
    sn = api.traverser("sameneighbors")(graph, "customer!1", "customer!2")
    assert sn.columns == ["id"]


@pytest.fixture(scope="module")
def marko_graph(spark, graph):
    """The reference API-test fixture graph (BaseApiTest.initVertex/
    initEdge): knows marko->peter->josh->vadas, created marko->ripple
    and peter->ripple."""
    from incubator_hugegraph_spark.graph import PropertyGraph
    people = ["marko", "vadas", "josh", "peter"]
    soft = ["lop", "ripple"]
    cities = {"marko": "Beijing", "vadas": "HongKong",
              "josh": "Beijing", "peter": "Shanghai"}
    vrows = [(f"person!{p}", "person", {"city": cities[p], "name": p}, None)
             for p in people] + \
        [(f"software!{s}", "software", {"name": s}, None) for s in soft]
    erows = [
        ("person!marko", "person!peter", "knows", "2021-01-01",
         {"weight": "0.5"}, None),
        ("person!peter", "person!josh", "knows", "2021-01-01",
         {"weight": "0.4"}, None),
        ("person!josh", "person!vadas", "knows", "2021-01-01",
         {"weight": "0.3"}, None),
        ("person!marko", "software!ripple", "created", "",
         {"weight": "0.2"}, None),
        ("person!peter", "software!ripple", "created", "",
         {"weight": "0.1"}, None)]
    from incubator_hugegraph_spark.schema import (
        EdgeLabel, GraphSchema, VertexLabel)
    sch = GraphSchema()
    sch.vertex_labels["person"] = VertexLabel("person")
    sch.vertex_labels["software"] = VertexLabel("software")
    sch.edge_labels["knows"] = EdgeLabel("knows", "person", "person")
    sch.edge_labels["created"] = EdgeLabel("created", "person", "software")
    return PropertyGraph(
        spark=spark,
        vertices=spark.createDataFrame(vrows, graph.vertices.schema),
        edges=spark.createDataFrame(erows, graph.edges.schema),
        schema=sch)


def test_kout_api_scenario(marko_graph):
    """Ported KoutApiTest.testGet: depth-2 BOTH from marko is {josh}
    nearest=true and {peter, ripple, josh} nearest=false (source
    excluded, revisits allowed)."""
    from incubator_hugegraph_spark.operators.bfs import kout
    near = {r.id for r in
            kout(marko_graph, "person!marko", 2, direction="BOTH",
                 nearest=True).collect()}
    assert near == {"person!josh"}
    raw = {r.id for r in
           kout(marko_graph, "person!marko", 2, direction="BOTH",
                nearest=False).collect()}
    assert raw == {"person!peter", "software!ripple", "person!josh"}


def test_kneighbor_api_scenario(marko_graph):
    """Ported KneighborApiTest.testGet: depth-2 BOTH from marko
    reaches exactly {peter, ripple, josh}."""
    from incubator_hugegraph_spark.operators.bfs import kneighbor
    got = {r.id for r in
           kneighbor(marko_graph, "person!marko", 2,
                     direction="BOTH").collect()}
    assert got == {"person!peter", "software!ripple", "person!josh"}


def test_same_neighbors_api_scenario(marko_graph):
    """Ported SameNeighborsApiTest.testGet: marko and josh share
    peter."""
    from incubator_hugegraph_spark.operators.neighbors import (
        same_neighbors)
    got = {r.id for r in
           same_neighbors(marko_graph, "person!marko",
                          "person!josh").collect()}
    assert got == {"person!peter"}


def test_jaccard_api_scenario(marko_graph):
    """Ported JaccardSimilarityApiTest.testGet:
    jaccard(marko, peter) = |{ripple}| / |{marko,peter,josh,ripple}|
    = 0.25."""
    from incubator_hugegraph_spark.operators.neighbors import (
        jaccard_similarity)
    got = jaccard_similarity(marko_graph, "person!marko",
                             "person!peter").collect()[0]
    assert abs(got.jaccard - 0.25) < 1e-4


def test_shortest_path_api_scenario(marko_graph):
    """Ported ShortestPathApiTest.testGet: marko→josh (BOTH) is
    marko>peter>josh."""
    from incubator_hugegraph_spark.operators.paths import shortest_path
    got = shortest_path(marko_graph, "person!marko", "person!josh",
                        max_depth=10, direction="BOTH").collect()
    assert len(got) == 1
    assert got[0].path == "person!marko>person!peter>person!josh"
    assert got[0].length == 2


def test_paths_api_scenario(marko_graph):
    """Ported PathsApiTest.testGet: exactly one simple path
    marko→vadas within depth 3 (BOTH)."""
    from incubator_hugegraph_spark.operators.paths import paths
    got = paths(marko_graph, "person!marko", "person!vadas", 3,
                direction="BOTH").collect()
    assert len(got) == 1
    assert got[0].path == \
        "person!marko>person!peter>person!josh>person!vadas"


def test_personal_rank_api_scenario(marko_graph):
    """Ported PersonalRankApiTest: source marko over the bipartite
    `created` label, alpha=1, depth 3 — peter must appear (2-hop
    co-creator of ripple); root and 1-hop items are removed."""
    from incubator_hugegraph_spark.operators.rank import personal_rank
    got = {r.id: r.rank for r in
           personal_rank(marko_graph, "person!marko", "created",
                         alpha=1.0, max_depth=3).collect()}
    # the reference test asserts peter APPEARS in the rank map (with
    # alpha=1 its round-3 rank is legitimately 0 — all mass moved on)
    assert "person!peter" in got
    assert "person!marko" not in got
    assert "software!ripple" not in got


def test_rings_rays_api_scenarios(marko_graph):
    """Ported RingsApiTest (1 ring through marko, BOTH) and
    RaysApiTest (2 OUT-rays, one reaching vadas)."""
    from incubator_hugegraph_spark.operators.paths import rays, rings
    rr = rings(marko_graph, "person!marko", 10,
               direction="BOTH").collect()
    assert len(rr) == 1  # marko ~ peter ~ ripple ~ marko
    # BOTH (API default): exactly 2 rays, both ending at the
    # single-edge dead end vadas; the marko>peter>ripple path dies at
    # a multi-edge vertex and is dropped (reference forward() rules)
    ry = {r.path for r in
          rays(marko_graph, "person!marko", 10, direction="BOTH")
          .collect()}
    assert ry == {
        "person!marko>person!peter>person!josh>person!vadas",
        "person!marko>software!ripple>person!peter>person!josh"
        ">person!vadas"}
    # OUT: zero-out-degree leaves terminate rays
    ry_out = {r.path for r in
              rays(marko_graph, "person!marko", 10, direction="OUT")
              .collect()}
    assert ry_out == {
        "person!marko>person!peter>person!josh>person!vadas",
        "person!marko>person!peter>software!ripple",
        "person!marko>software!ripple"}


def test_all_shortest_paths_api_scenario(marko_graph):
    """Ported AllShortestPathsApiTest: one shortest path
    marko→vadas (BOTH)."""
    from incubator_hugegraph_spark.operators.paths import (
        all_shortest_paths)
    got = all_shortest_paths(marko_graph, "person!marko",
                             "person!vadas", 100, direction="BOTH") \
        .collect()
    assert len(got) == 1
    assert got[0].path == \
        "person!marko>person!peter>person!josh>person!vadas"


def test_sssp_api_scenario(marko_graph):
    """Ported SingleSourceShortestPathApiTest: 4 reachable targets
    from marko (lop is isolated in this fixture)."""
    from incubator_hugegraph_spark.operators.weighted import (
        sssp, weighted_adj)
    we = weighted_adj(marko_graph, "weight", direction="BOTH")
    got = {r.id for r in sssp(marko_graph, "person!marko", we).collect()}
    got.discard("person!marko")
    assert got == {"person!peter", "person!josh", "person!vadas",
                   "software!ripple"}


def test_weighted_shortest_path_api_scenario(marko_graph):
    """Ported WeightedShortestPathApiTest: marko→josh by `weight`
    goes marko-ripple-peter-josh (0.2+0.1+0.4 = 0.7 beats the direct
    0.5+0.4 = 0.9)."""
    from incubator_hugegraph_spark.operators.weighted import (
        sssp, weighted_adj)
    we = weighted_adj(marko_graph, "weight", direction="BOTH")
    d = sssp(marko_graph, "person!marko", we, with_parent=True)
    rows = {r.id: (r.dist, r.parent) for r in d.collect()}
    assert abs(rows["person!josh"][0] - 0.7) < 1e-9
    # reconstruct the min path via parents
    path, cur = [], "person!josh"
    while cur is not None:
        path.append(cur)
        cur = rows[cur][1]
    assert path[::-1] == ["person!marko", "software!ripple",
                          "person!peter", "person!josh"]


def test_crosspoints_api_scenario(marko_graph):
    """Ported CrosspointsApiTest: marko × vadas (BOTH, depth 10) has
    exactly 2 crosspoint paths — the meet vertex sits at the
    alternating bidirectional split (forward-first)."""
    from incubator_hugegraph_spark.operators.paths import crosspoints
    got = {(r.crosspoint, r.path) for r in
           crosspoints(marko_graph, "person!marko", "person!vadas", 10,
                       direction="BOTH").collect()}
    assert got == {
        ("person!josh",
         "person!marko>person!peter>person!josh>person!vadas"),
        ("person!peter",
         "person!marko>software!ripple>person!peter>person!josh"
         ">person!vadas")}


def test_mnsp_api_scenario(marko_graph):
    """Ported MultiNodeShortestPathApiTest: 4 person vertices, BOTH,
    depth 10 — exactly C(4,2)=6 pair paths."""
    from incubator_hugegraph_spark.operators.paths import (
        multi_node_shortest_path)
    got = multi_node_shortest_path(
        marko_graph, ["person!marko", "person!peter", "person!josh",
                      "person!vadas"], 10, direction="BOTH").collect()
    assert len(got) == 6
    pairs = {(r.source, r.target) for r in got}
    assert len(pairs) == 6


def test_template_paths_api_scenario(marko_graph):
    """Ported TemplatePathsApiTest: vadas→ripple via IN-knows ×≤2
    then OUT-created — exactly vadas<josh<peter>ripple."""
    from incubator_hugegraph_spark.operators.paths import template_paths
    got = template_paths(
        marko_graph, ["person!vadas"], ["software!ripple"],
        [{"direction": "IN", "labels": ["knows"], "max_times": 2},
         {"direction": "OUT", "labels": ["created"]}]).collect()
    assert len(got) == 1
    assert got[0].path == ("person!vadas>person!josh>person!peter"
                           ">software!ripple")


def test_fusiform_api_scenario(marko_graph):
    """Ported FusiformSimilarityApiTest: all persons over OUT
    `created`, alpha=1, min_neighbors=1, group city with min_groups=2
    — exactly marko and peter (co-creators of ripple, different
    cities)."""
    from incubator_hugegraph_spark.operators.similarity import (
        fusiform_similarity)
    got = fusiform_similarity(
        marko_graph, "person", direction="OUT", labels=["created"],
        min_neighbors=1, alpha=1.0, min_similars=1,
        group_property="city", min_groups=2).collect()
    sims = {(r.source, r.similar, r.score) for r in got}
    assert sims == {("person!marko", "person!peter", 1.0),
                    ("person!peter", "person!marko", 1.0)}
    # min_groups=3 filters everything (only 2 cities in play)
    none = fusiform_similarity(
        marko_graph, "person", direction="OUT", labels=["created"],
        min_neighbors=1, alpha=1.0, min_similars=1,
        group_property="city", min_groups=3).count()
    assert none == 0


def test_neighbor_rank_api_scenario(marko_graph):
    """Ported NeighborRankApiTest: one BOTH step, alpha=1 — two
    layers; the source keeps rank 1 and the neighbor layer splits the
    propagated mass over {peter, ripple}."""
    from incubator_hugegraph_spark.operators.rank import neighbor_rank
    got = neighbor_rank(marko_graph, "person!marko",
                        [{"direction": "BOTH"}], alpha=1.0).collect()
    layers = {r.layer for r in got}
    assert layers == {0, 1}
    l1 = {r.id: r.rank for r in got if r.layer == 1}
    assert set(l1) == {"person!peter", "software!ripple"}
    assert abs(sum(l1.values()) - 1.0) < 1e-9


def test_customized_crosspoints_api_scenario(marko_graph):
    """Ported CustomizedCrosspointsApiTest: sources {marko, ripple},
    one single-BOTH-step pattern — peter is the only crosspoint
    (reached by both sources → 2 paths in the REST response)."""
    from incubator_hugegraph_spark.operators.paths import (
        customized_crosspoints)
    got = [r.crosspoint for r in
           customized_crosspoints(
               marko_graph, ["person!marko", "software!ripple"],
               [[{"direction": "BOTH"}]]).collect()]
    assert got == ["person!peter"]


def test_edges_api_scenario(marko_graph):
    """Ported EdgesApiTest.testList: vadas's IN edges (exactly
    josh→vadas), then the same edge fetched back by its EdgeId
    quadruple."""
    e = marko_graph.edges.filter(F.col("dst") == "person!vadas")
    rows = e.collect()
    assert len(rows) == 1 and rows[0].src == "person!josh"
    again = marko_graph.edges_by_ids(
        [(rows[0].src, rows[0].label, rows[0].sort_values, rows[0].dst)])
    assert again.count() == 1


def test_adamic_adar_api_scenario(marko_graph):
    """Ported AdamicAdarAPITest.testGet (marko↔josh, BOTH): common
    neighbor is peter only (marko: {peter, ripple}, josh: {peter,
    vadas}); deg(peter)=3 so adamic_adar = 1/ln(3)
    (PredictionTraverser.adamicAdar :36-52)."""
    from incubator_hugegraph_spark.operators.neighbors import adamic_adar
    row = adamic_adar(marko_graph, "person!marko", "person!josh").head()
    assert row.score == pytest.approx(0.910239, abs=1e-6)


def test_resource_allocation_api_scenario(marko_graph):
    """Ported ResourceAllocationAPITest.testGet (marko↔josh, BOTH):
    resource_allocation = 1/deg(peter) = 1/3
    (PredictionTraverser.resourceAllocation :53-…)."""
    from incubator_hugegraph_spark.operators.neighbors import (
        resource_allocation)
    row = resource_allocation(marko_graph, "person!marko",
                              "person!josh").head()
    assert row.score == pytest.approx(0.333333, abs=1e-6)


def test_count_api_scenario(marko_graph):
    """Ported CountApiTest.testCount (marko, 3 BOTH steps, default
    dedup_size=1000000). DOCUMENTED DEVIATION: the reference returns 3
    because its lazy DFS interleave (CountTraverser.java:82-93)
    expands ripple's subtree first (created-label edges sort before
    knows), counting peter at the last layer (3 edges) and blocking
    its middle-step expansion; our level-synchronous dedup expands
    peter AND ripple at the middle step, leaving josh as the only
    un-visited last-layer target (2 edges). Both satisfy the
    each-vertex-once contract; ours is order-independent."""
    from incubator_hugegraph_spark.operators.neighbors import count_steps
    steps = [{"direction": "BOTH", "max_degree": 100,
              "skip_degree": 100}] * 3
    got = count_steps(marko_graph, "person!marko", steps,
                      dedup_size=1_000_000).head().cnt
    assert got == 2
    # dedup off: every arrival continues — deterministic 11 by direct
    # enumeration of the fixture (and identical to the reference's
    # dedup_size=0 trace)
    raw = count_steps(marko_graph, "person!marko", steps).head().cnt
    assert raw == 11
    # contains_traversed adds source + intermediate edges: 1 + 2 + 5
    both = count_steps(marko_graph, "person!marko", steps,
                       contains_traversed=True).head().cnt
    assert both == 11 + 1 + 2 + 5


def test_ram_bfs_matches_distributed(graph):
    """RamTable-style CSR BFS (ram.py) equals the distributed frontier
    loop on every direction, including absent sources and the
    capacity guard."""
    from incubator_hugegraph_spark.graph import CapacityExceeded
    from incubator_hugegraph_spark.operators.bfs import bfs
    srcs = [f"customer!{i}" for i in range(5)] + ["missing!0"]
    for direction, depth in [("OUT", 3), ("BOTH", 2), ("IN", 2)]:
        a = bfs(graph, srcs, depth, direction=direction, engine="dist")
        b = bfs(graph, srcs, depth, direction=direction, engine="ram")
        j = (a.withColumnRenamed("dist", "d1")
             .join(b.withColumnRenamed("dist", "d2"), on="id", how="full"))
        assert j.filter(F.coalesce("d1", F.lit(-9))
                        != F.coalesce("d2", F.lit(-8))).count() == 0
    for engine in ["dist", "ram"]:
        with pytest.raises(RuntimeError):
            bfs(graph, ["customer!1"], 3, direction="OUT", capacity=5,
                engine=engine).count()


@pytest.mark.slow  # verify-budget tier (r11): see pytest.ini
def test_ram_mnsp_matches_distributed(graph):
    """CSR multi-node-shortest-path kernel equals the distributed
    min-lex frontier loop — path STRINGS bit-identical (the min-lex
    tie-break and the id||'>' ordering subtlety are the point) — on
    OUT / BOTH and with absent members in the vertex set."""
    from incubator_hugegraph_spark.operators.paths import (
        multi_node_shortest_path)
    ids = ([f"customer!{i}" for i in range(6)] + ["missing!0"]
           + [f"part!{i}" for i in range(4)])
    for direction, depth in [("OUT", 3), ("BOTH", 2)]:
        a = multi_node_shortest_path(graph, ids, depth,
                                     direction=direction, engine="dist") \
            .withColumnRenamed("path", "p1") \
            .withColumnRenamed("length", "l1")
        b = multi_node_shortest_path(graph, ids, depth,
                                     direction=direction, engine="ram") \
            .withColumnRenamed("path", "p2") \
            .withColumnRenamed("length", "l2")
        j = a.join(b, on=["source", "target"], how="full")
        bad = j.filter(
            (F.coalesce("p1", F.lit("-")) != F.coalesce("p2", F.lit("+")))
            | (F.coalesce("l1", F.lit(-1)) != F.coalesce("l2", F.lit(-2))))
        assert bad.count() == 0, (direction, depth, bad.collect()[:5])


def test_ram_jaccard_matches_distributed(graph):
    """In-memory jaccard kernel equals the distributed set algebra
    (values bit-equal after the shared HALF_UP round-6)."""
    from incubator_hugegraph_spark.operators.similarity import (
        jaccard_top_batch)
    srcs = [f"customer!{i}" for i in range(10)] + ["missing!7"]
    a = jaccard_top_batch(graph, srcs, 20, engine="dist") \
        .withColumnRenamed("jaccard", "j1")
    b = jaccard_top_batch(graph, srcs, 20, engine="ram") \
        .withColumnRenamed("jaccard", "j2")
    j = a.join(b, on=["source", "id"], how="full")
    assert j.filter(F.coalesce("j1", F.lit(-1))
                    != F.coalesce("j2", F.lit(-2))).count() == 0


def test_jaccard_int_tier_matches_string_tier(graph, monkeypatch):
    """r11 session 2 (§2.3 narrower types): the broadcast tier of
    jaccard_top_batch must be ROW-IDENTICAL to the shuffle tier —
    jaccard is an integer-count ratio and the rank tie-breaks run on
    the order-preserving encoding."""
    import incubator_hugegraph_spark.algorithms.pagerank as prmod
    from incubator_hugegraph_spark.operators.similarity import (
        jaccard_top_batch)
    srcs = [f"customer!{i}" for i in range(30)] + ["missing!7"]
    a = jaccard_top_batch(graph, srcs, 10, engine="dist")   # broadcast
    monkeypatch.setattr(prmod, "BROADCAST_VERTEX_LIMIT", 0)
    b = jaccard_top_batch(graph, srcs, 10, engine="dist")   # shuffle
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_jaccard_top_batch_duplicate_sources(graph, monkeypatch):
    """A repeated source answers once, as if listed once, on the RAM
    tier, the broadcast dist tier and the shuffle dist tier: a
    duplicate must neither repeat rows nor double the intersection
    counts (jaccard = |A∩B|/|A∪B| ≤ 1)."""
    import incubator_hugegraph_spark.algorithms.pagerank as prmod
    from incubator_hugegraph_spark.operators.similarity import (
        jaccard_top_batch)

    def rows(srcs, engine):
        return sorted(map(tuple, jaccard_top_batch(
            graph, srcs, 5, engine=engine).collect()))

    gate = prmod.BROADCAST_VERTEX_LIMIT
    for engine, vertex_limit in [("ram", gate), ("dist", gate),
                                 ("dist", 0)]:
        monkeypatch.setattr(prmod, "BROADCAST_VERTEX_LIMIT", vertex_limit)
        once = rows(["customer!1"], engine)
        twice = rows(["customer!1", "customer!1"], engine)
        assert once, (engine, vertex_limit)
        assert twice == once, (engine, vertex_limit, twice)
        assert all(r[2] <= 1.0 for r in twice), (engine, vertex_limit)


@pytest.mark.slow  # verify-budget tier (r11): see pytest.ini
def test_ram_fusiform_matches_distributed(graph):
    """In-memory fusiform pair-count kernel equals the hub-split
    distributed plan across parameter shapes."""
    from incubator_hugegraph_spark.operators.similarity import (
        fusiform_similarity)
    for kw in [dict(source_label="customer", direction="OUT",
                    min_neighbors=1, alpha=0.3, min_similars=1, top=20),
               dict(source_label="supplier", direction="BOTH",
                    min_neighbors=2, alpha=0.5, min_similars=2, top=5),
               dict(source_label="customer", direction="OUT",
                    labels=["interacted"], min_neighbors=1, alpha=0.2,
                    min_similars=1, top=10)]:
        a = fusiform_similarity(graph, engine="dist", **kw) \
            .withColumnRenamed("score", "s1")
        b = fusiform_similarity(graph, engine="ram", **kw) \
            .withColumnRenamed("score", "s2")
        j = a.join(b, on=["source", "similar"], how="full")
        assert j.filter(F.coalesce("s1", F.lit(-1))
                        != F.coalesce("s2", F.lit(-2))).count() == 0, kw


@pytest.mark.slow  # verify-budget tier (r11): see pytest.ini
def test_ram_neighbor_ops_match_distributed(graph):
    """Set-algebra kernels equal the distributed neighbor operators
    across directions, labels, limits, and absent vertices."""
    from incubator_hugegraph_spark.operators.neighbors import (
        adamic_adar, jaccard_similarity, resource_allocation,
        same_neighbors, same_neighbors_multi)
    pair_cases = [("customer!1", "customer!2", {}),
                  ("customer!1", "customer!3",
                   dict(direction="OUT", labels=["interacted"])),
                  ("customer!1", "missing!5", {})]
    for a, b, kw in pair_cases:
        x = sorted(r.id for r in same_neighbors(
            graph, a, b, engine="dist", **kw).collect())
        y = sorted(r.id for r in same_neighbors(
            graph, a, b, engine="ram", **kw).collect())
        assert x == y, (a, b, kw)
        for fn in (jaccard_similarity, adamic_adar, resource_allocation):
            u = fn(graph, a, b, engine="dist", **kw).head()[0]
            v = fn(graph, a, b, engine="ram", **kw).head()[0]
            assert u == v, (fn.__name__, a, b, kw, u, v)
    for ids, kw in [(["customer!1", "customer!2", "customer!3"], {}),
                    (["customer!1", "customer!2"],
                     dict(limit=3))]:
        x = sorted(r.id for r in same_neighbors_multi(
            graph, ids, engine="dist", **kw).collect())
        y = sorted(r.id for r in same_neighbors_multi(
            graph, ids, engine="ram", **kw).collect())
        assert x == y, (ids, kw)


@pytest.mark.slow  # verify-budget tier (r11): see pytest.ini
def test_ram_count_steps_matches_distributed(marko_graph, graph):
    """Vector-count kernel equals the distributed multi-step count —
    incl. the marko-fixture dedup_size / contains_traversed scenarios
    and the TPC-H graph's two-hop forms."""
    from incubator_hugegraph_spark.operators.neighbors import count_steps
    marko_steps = [{"direction": "OUT"}, {"direction": "OUT"},
                   {"direction": "OUT"}]
    cases_marko = [dict(steps=marko_steps),
                   dict(steps=marko_steps, dedup_size=1_000_000),
                   dict(steps=marko_steps, contains_traversed=True),
                   dict(steps=marko_steps, dedup_size=2),
                   dict(steps=marko_steps, dedup_size=-1,
                        contains_traversed=True)]
    for kw in cases_marko:
        a = count_steps(marko_graph, "person!marko", engine="dist",
                        **kw).head().cnt
        b = count_steps(marko_graph, "person!marko", engine="ram",
                        **kw).head().cnt
        assert a == b, kw
    tp = [{"direction": "OUT", "labels": ["placed"]},
          {"direction": "OUT", "labels": ["contains"]}]
    for kw in [dict(steps=tp), dict(steps=tp, dedup=True),
               dict(steps=tp, dedup_size=5, contains_traversed=True)]:
        a = count_steps(graph, "customer!1", engine="dist", **kw).head().cnt
        b = count_steps(graph, "customer!1", engine="ram", **kw).head().cnt
        assert a == b, kw


def test_ram_customized_steps_match_distributed(graph):
    from incubator_hugegraph_spark.operators.bfs import (
        customized_kneighbor, customized_kout)
    step_sets = [
        [{"direction": "OUT", "labels": ["placed"]},
         {"direction": "OUT", "labels": ["contains"],
          "props": {"quantity": ("gte", 30)}}],
        [{"direction": "BOTH", "labels": ["interacted"]},
         {"direction": "BOTH", "labels": ["interacted"]}],
    ]
    for steps in step_sets:
        for nearest in (True, False):
            a = sorted(r.id for r in customized_kout(
                graph, "customer!1", steps, nearest=nearest,
                engine="dist").collect())
            b = sorted(r.id for r in customized_kout(
                graph, "customer!1", steps, nearest=nearest,
                engine="ram").collect())
            assert a == b, (steps, nearest)
        a = sorted((r.id, r.dist) for r in customized_kneighbor(
            graph, "customer!1", steps, engine="dist").collect())
        b = sorted((r.id, r.dist) for r in customized_kneighbor(
            graph, "customer!1", steps, engine="ram").collect())
        assert a == b, steps


def test_ram_rays_rings_marko_scenarios(marko_graph):
    """The reference API-test emission rules (zero-edge terminals,
    unique-back-edge dead ends, BOTH backtrack ring rule) hold
    identically through the kernels."""
    from incubator_hugegraph_spark.operators.paths import rays, rings
    for fn in (rays, rings):
        for direction in ("OUT", "BOTH"):
            a = sorted((r.path, r.length) for r in fn(
                marko_graph, "person!marko", 3, direction=direction,
                engine="dist").collect())
            b = sorted((r.path, r.length) for r in fn(
                marko_graph, "person!marko", 3, direction=direction,
                engine="ram").collect())
            assert a == b, (fn.__name__, direction)
