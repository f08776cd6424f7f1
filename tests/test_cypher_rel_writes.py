"""Cypher SET / REMOVE on relationship variables (r05): the reference
translates full openCypher (api/opencypher/CypherOpProcessor.java),
including relationship property writes; until r05 these raised
SyntaxError here. Updates key edges by the EdgeId quadruple the rel
variable already carries (one narrow map rewrite, no shuffle).
"""

from __future__ import annotations

import pytest

from incubator_hugegraph_spark import rest
from incubator_hugegraph_spark.cypher import cypher
from incubator_hugegraph_spark.graph import PropertyGraph
from incubator_hugegraph_spark.schema import (EdgeLabel, GraphSchema,
                                              VertexLabel)


@pytest.fixture()
def rgraph(spark):
    vrows = [("person!marko", "person", {"name": "marko"}, None),
             ("person!josh", "person", {"name": "josh"}, None),
             ("person!vadas", "person", {"name": "vadas"}, None)]
    erows = [
        ("person!marko", "person!josh", "knows", "",
         {"weight": "0.5", "since": "2010"}, None),
        ("person!marko", "person!vadas", "knows", "",
         {"weight": "0.4", "since": "2011"}, None)]
    sch = GraphSchema()
    sch.property_key("name")
    sch.property_key("weight", "DOUBLE")
    sch.property_key("since")
    sch.vertex_labels["person"] = VertexLabel(
        "person", properties=("name",), primary_keys=("name",))
    sch.edge_labels["knows"] = EdgeLabel(
        "knows", "person", "person", properties=("weight", "since"))
    v = spark.createDataFrame(
        vrows, "id string, label string, props map<string,string>, "
               "expired_at timestamp")
    e = spark.createDataFrame(
        erows, "src string, dst string, label string, sort_values string, "
               "props map<string,string>, expired_at timestamp")
    return PropertyGraph(spark, v, e, schema=sch)


def _edge_props(g, dst):
    return g.edges.filter(f"dst = '{dst}'").head().props


def test_set_rel_property(rgraph):
    cypher(rgraph, "MATCH (a:person {name:'marko'})-[r:knows]->"
                   "(b:person {name:'josh'}) SET r.weight = 0.9")
    assert _edge_props(rgraph, "person!josh")["weight"] == "0.9"
    # the other edge is untouched
    assert _edge_props(rgraph, "person!vadas")["weight"] == "0.4"


def test_set_rel_expression_value(rgraph):
    cypher(rgraph, "MATCH (a:person)-[r:knows]->(b:person) "
                   "SET r.weight = r.weight * 2")
    assert _edge_props(rgraph, "person!josh")["weight"] == "1.0"
    assert _edge_props(rgraph, "person!vadas")["weight"] == "0.8"


def test_set_rel_map_merge(rgraph):
    cypher(rgraph, "MATCH (a:person {name:'marko'})-[r:knows]->"
                   "(b:person {name:'josh'}) "
                   "SET r += {weight: 0.7, since: null}")
    p = _edge_props(rgraph, "person!josh")
    assert p["weight"] == "0.7" and "since" not in p


def test_remove_rel_property(rgraph):
    cypher(rgraph, "MATCH (a:person)-[r:knows]->(b:person {name:'vadas'}) "
                   "REMOVE r.since")
    p = _edge_props(rgraph, "person!vadas")
    assert "since" not in p and p["weight"] == "0.4"
    assert "since" in _edge_props(rgraph, "person!josh")


def test_set_rel_undeclared_prop_rejected(rgraph):
    with pytest.raises(ValueError):
        cypher(rgraph, "MATCH (a:person)-[r:knows]->(b:person) "
                       "SET r.wat = 1")


def test_rel_set_refreshes_typed_edge_view(rgraph):
    # typed edge views re-derive from the canonical table after a
    # relationship write (refresh_edge_views — the edge twin of
    # refresh_vertex_views)
    rgraph.refresh_edge_views()
    assert float(rgraph.view("knows").filter("dst = 'person!josh'")
                 .head().weight) == 0.5
    cypher(rgraph, "MATCH (a:person)-[r:knows]->(b:person {name:'josh'}) "
                   "SET r.weight = 0.9")
    assert float(rgraph.view("knows").filter("dst = 'person!josh'")
                 .head().weight) == 0.9


@pytest.mark.slow  # verify-budget tier (r11): see pytest.ini
def test_merge_rel_on_create_on_match_set(rgraph):
    """ON CREATE / ON MATCH SET on a relationship MERGE: the created
    edge gets the ON CREATE write, a re-merge of the now-existing
    edge gets the ON MATCH write (openCypher branch contract)."""
    cypher(rgraph, "MATCH (a:person {name:'josh'}), "
                   "(b:person {name:'vadas'}) "
                   "MERGE (a)-[r:knows]->(b) "
                   "ON CREATE SET r.weight = 0.1 "
                   "ON MATCH SET r.weight = 9.9")
    e = rgraph.edges.filter(
        "src = 'person!josh' AND dst = 'person!vadas'").head()
    assert e.props["weight"] == "0.1"
    cypher(rgraph, "MATCH (a:person {name:'josh'}), "
                   "(b:person {name:'vadas'}) "
                   "MERGE (a)-[r:knows]->(b) "
                   "ON CREATE SET r.weight = 0.1 "
                   "ON MATCH SET r.weight = 9.9")
    e = rgraph.edges.filter(
        "src = 'person!josh' AND dst = 'person!vadas'").head()
    assert e.props["weight"] == "9.9"
    # the pre-existing marko edges were never part of the pattern
    assert _edge_props(rgraph, "person!josh")["weight"] == "0.5"


def test_with_rebinding_drops_stale_rel_label(rgraph, spark):
    """A rel-var name dropped at a WITH horizon must not leave its
    label behind: re-using the name for a different label in a later
    MATCH schema-checks against the NEW label."""
    from incubator_hugegraph_spark.schema import EdgeLabel
    rgraph.schema.property_key("note")
    rgraph.schema.edge_labels["likes"] = EdgeLabel(
        "likes", "person", "person", properties=("note",))
    rgraph.edges = rgraph.edges.unionByName(spark.createDataFrame(
        [("person!josh", "person!marko", "likes", "", {}, None)],
        rgraph.edges.schema))
    # r first binds to :knows, is NOT carried through WITH, then
    # rebinds to :likes — SET r.note must validate against likes
    # (note is undeclared on knows; a stale label would reject it)
    cypher(rgraph, "MATCH (a:person)-[r:knows]->(b:person) "
                   "WITH count(*) AS c "
                   "MATCH (x:person)-[r:likes]->(y:person) "
                   "SET r.note = 'ok'")
    p = rgraph.edges.filter("label = 'likes'").head().props
    assert p["note"] == "ok"


def test_set_replace_self_reference_reads_pre_write_state(rgraph):
    """SET n = {name: n.name, …} must read the PRE-write map (code
    review r05: stripping before hydration destroyed the carried
    value on graphs whose views hydrate lazily)."""
    cypher(rgraph, "MATCH (a:person {name:'marko'}) "
                   "WITH a, count(*) AS c "
                   "SET a = {name: a.name}")
    assert rgraph.vertices.filter("id = 'person!marko'") \
        .head().props == {"name": "marko"}


def test_merge_on_match_set_visible_in_same_query(rgraph):
    """ON MATCH SET runs on a throwaway subset; the outer row's
    snapshot columns must be dropped so RETURN re-hydrates (code
    review r05)."""
    rgraph.schema.vertex_labels["person"].__dict__  # schema present
    row = cypher(rgraph,
                 "MATCH (a:person {name:'marko'}), "
                 "(b:person {name:'josh'}) "
                 "MERGE (a)-[r:knows]->(b) "
                 "ON MATCH SET a.name = 'marko' "
                 "ON CREATE SET a.name = 'marko' "
                 "RETURN a.name AS nm").head()
    assert row.nm == "marko"


def test_create_rel_var_bound(rgraph):
    """-[r:label]-> in CREATE binds r for later clauses (code review
    r05: the parser accepted the var but _apply_create dropped it)."""
    row = cypher(rgraph,
                 "MATCH (a:person {name:'josh'}), "
                 "(b:person {name:'marko'}) "
                 "CREATE (a)-[r:knows {weight: 0.2}]->(b) "
                 "RETURN r AS eid").head()
    assert row.eid == "person!josh>knows>>person!marko"
    cypher(rgraph, "MATCH (a:person {name:'josh'})-[r:knows]->"
                   "(b:person {name:'marko'}) SET r.weight = 0.3")
    assert rgraph.edges.filter(
        "src = 'person!josh' AND dst = 'person!marko'"
    ).head().props["weight"] == "0.3"


def test_set_rel_after_aggregating_with(rgraph):
    """SET r.x = c where r survived an aggregating WITH — the __l_
    column is projected away; the writer falls back to the tracked
    label (code review r05)."""
    cypher(rgraph, "MATCH (a:person)-[r:knows]->(b:person) "
                   "WITH r, count(*) AS c "
                   "SET r.weight = c")
    ws = {r.dst: r.props["weight"] for r in rgraph.edges.collect()}
    assert ws == {"person!josh": "1", "person!vadas": "1"}


def test_merge_on_set_sort_keyed_label_rejected(rgraph, spark):
    from incubator_hugegraph_spark.schema import EdgeLabel
    rgraph.schema.property_key("place")
    rgraph.schema.edge_labels["met"] = EdgeLabel(
        "met", "person", "person", properties=("place",),
        sort_keys=("place",))
    with pytest.raises(SyntaxError):
        cypher(rgraph, "MATCH (a:person {name:'marko'}), "
                       "(b:person {name:'josh'}) "
                       "MERGE (a)-[r:met]->(b) "
                       "ON MATCH SET r.place = 'x'")


def test_merge_on_set_with_typed_views(rgraph):
    """The stale-column drop after MERGE ON SET must survive typed
    vertex views (review 2: _typed_cols was already popped by the
    inner SET, leaving __c_* duplicates on re-hydration)."""
    rgraph.refresh_vertex_views()
    row = cypher(rgraph,
                 "MATCH (a:person {name:'marko'}), "
                 "(b:person {name:'josh'}) "
                 "MERGE (a)-[r:knows]->(b) "
                 "ON MATCH SET a.name = 'marko' "
                 "ON CREATE SET a.name = 'marko' "
                 "RETURN a.name AS nm").head()
    assert row.nm == "marko"


def test_create_rel_var_property_readable(rgraph):
    row = cypher(rgraph,
                 "MATCH (a:person {name:'josh'}), "
                 "(b:person {name:'marko'}) "
                 "CREATE (a)-[r:knows {weight: 0.2}]->(b) "
                 "RETURN r.weight AS w").head()
    assert float(row.w) == 0.2


def test_create_rejects_rebinding_matched_rel_var(rgraph):
    with pytest.raises(SyntaxError):
        cypher(rgraph, "MATCH (a:person)-[r:knows]->(b:person) "
                       "CREATE (b)-[r:knows {weight: 1.0}]->(a)")


def test_merge_on_set_node_only_allowed_on_sort_keyed_label(rgraph):
    """Node-only ON SET is legal even when the pattern names a rel
    var on a sort-keyed label (review 2: the guard fired on the var's
    mere existence)."""
    from incubator_hugegraph_spark.schema import EdgeLabel
    rgraph.schema.property_key("place")
    rgraph.schema.property_key("flag")
    rgraph.schema.vertex_labels["person"] = type(
        rgraph.schema.vertex_labels["person"])(
        "person", properties=("name", "flag"), primary_keys=("name",),
        nullable_keys=("flag",))
    rgraph.schema.edge_labels["met"] = EdgeLabel(
        "met", "person", "person", properties=("place",),
        sort_keys=("place",))
    cypher(rgraph, "MATCH (a:person {name:'marko'}), "
                   "(b:person {name:'josh'}) "
                   "MERGE (a)-[r:met]->(b) "
                   "ON CREATE SET a.flag = '1' "
                   "ON MATCH SET a.flag = '2'")
    assert rgraph.vertices.filter("id = 'person!marko'") \
        .head().props["flag"] == "1"


def test_merge_summary_edge_id_resolves(rgraph):
    """The id a relationship MERGE reports is the stored EdgeId: the
    element CRUD surface finds the created edge under it."""
    rows = cypher(rgraph, "MATCH (a:person {name:'josh'}), "
                          "(b:person {name:'vadas'}) "
                          "MERGE (a)-[r:knows]->(b)").collect()
    assert [r.label for r in rows] == ["edge"]
    got = rest.execute_graph_crud(rgraph, "GET", f"edges/{rows[0].id}")
    assert got.count() == 1
