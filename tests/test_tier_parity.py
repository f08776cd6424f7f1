"""Every tier of page_rank, wcc and jaccard_top_batch answers alike,
and the state derived from a graph (the vertex index, the RAM tier's
adjacency) lives exactly as long as the graph's tables it came from."""

from __future__ import annotations

import importlib

from incubator_hugegraph_spark import rest
from incubator_hugegraph_spark.algorithms.pagerank import page_rank
from incubator_hugegraph_spark.algorithms.wcc import wcc
from incubator_hugegraph_spark.graph import PropertyGraph, free_scratch
from incubator_hugegraph_spark.operators.mutate import upsert_edges
from incubator_hugegraph_spark.operators.similarity import jaccard_top_batch

# the package re-exports the functions under the module names
prmod = importlib.import_module("incubator_hugegraph_spark.algorithms.pagerank")
wccmod = importlib.import_module("incubator_hugegraph_spark.algorithms.wcc")

V_SCHEMA = "id string, label string, props map<string,string>, " \
           "expired_at timestamp"
E_SCHEMA = "src string, dst string, label string, sort_values string, " \
           "props map<string,string>, expired_at timestamp"


def _edge(src, dst, sort_values=""):
    return (src, dst, "e", sort_values, {}, None)


def _adversarial(spark) -> PropertyGraph:
    """Ids whose string order differs from their numeric order
    (v!1 < v!10 < v!2 < v!3 < v!30 < v!9), parallel edges, a
    self-loop, an isolated vertex, and dangling endpoints on both
    sides — v!0 sorts before every vertex, so a tier that kept it
    would label its component v!0."""
    ids = ["v!1", "v!9", "v!10", "v!2", "v!3", "v!30", "v!iso"]
    edges = [_edge("v!9", "v!10"), _edge("v!10", "v!1"),
             _edge("v!1", "v!2", "a"), _edge("v!1", "v!2", "b"),
             _edge("v!2", "v!2"), _edge("v!3", "v!30"),
             _edge("v!3", "v!ghost"), _edge("v!9", "v!ghost"),
             _edge("v!0", "v!3")]
    return PropertyGraph(
        spark=spark,
        vertices=spark.createDataFrame(
            [(i, "v", {}, None) for i in ids], V_SCHEMA),
        edges=spark.createDataFrame(edges, E_SCHEMA))


def _rows(df, digits=None):
    out = []
    for r in df.collect():
        t = tuple(r)
        if digits is not None:
            t = t[:-1] + (round(t[-1], digits),)
        out.append(t)
    return sorted(out)


def _tiers(monkeypatch):
    """(name, engine) per tier; entering the shuffle tier patches the
    vertex gate to 0 in both modules that read it."""
    limit = prmod.BROADCAST_VERTEX_LIMIT
    for name, engine, gate in [("ram", "ram", limit),
                               ("dist-broadcast", "dist", limit),
                               ("dist-shuffle", "dist", 0)]:
        monkeypatch.setattr(prmod, "BROADCAST_VERTEX_LIMIT", gate)
        monkeypatch.setattr(wccmod, "BROADCAST_VERTEX_LIMIT", gate)
        yield name, engine


def test_adversarial_graph_same_rows_on_every_tier(spark, monkeypatch):
    g = _adversarial(spark)
    srcs = ["v!1", "v!3", "v!9", "v!missing"]
    got = {}
    for name, engine in _tiers(monkeypatch):
        got[name] = {
            "pr": _rows(page_rank(g, engine=engine), 9),
            "pr3": _rows(page_rank(g, fixed_rounds=3, engine=engine), 9),
            "wcc": _rows(wcc(g, engine=engine)),
            "wcc1": _rows(wcc(g, fixed_rounds=1, engine=engine)),
            "jac": _rows(jaccard_top_batch(g, srcs, 5, engine=engine)),
        }
    for name in ("dist-broadcast", "dist-shuffle"):
        for k, want in got["ram"].items():
            assert got[name][k] == want, (name, k, got[name][k], want)
    # dangling endpoints are dropped: v!0 labels no component, and
    # v!ghost is no neighbour v!9 shares with v!3
    comps = dict(got["ram"]["wcc"])
    assert comps["v!3"] == comps["v!30"] == "v!3"
    assert comps["v!9"] == comps["v!2"] == "v!1"
    assert comps["v!iso"] == "v!iso"
    assert len(got["ram"]["pr"]) == 7
    assert [r for r in got["ram"]["jac"] if r[0] == "v!9"] == [
        ("v!9", "v!1", 0.5)]


def test_vertex_index_built_once_per_graph(spark, monkeypatch):
    g = _adversarial(spark)
    calls = []
    build = prmod.vertex_index

    def counted(graph):
        calls.append(graph)
        return build(graph)
    monkeypatch.setattr(prmod, "vertex_index", counted)
    page_rank(g, engine="dist").collect()
    want = _rows(wcc(g, engine="dist"))
    jaccard_top_batch(g, ["v!1"], 3, engine="dist").collect()
    assert len(calls) == 1
    # free_scratch between queries must not free the graph's index
    free_scratch(spark)
    assert _rows(wcc(g, engine="dist")) == want
    assert len(calls) == 1
    # a vertex write rebinds graph.vertices: the index is rebuilt
    rest.execute_graph_crud(g, "POST", "vertices", {
        "id": "v!new", "label": "v", "properties": {}})
    got = _rows(wcc(g, engine="dist"))
    assert len(calls) == 2
    assert got == sorted(want + [("v!new", "v!new")])


def _kout_ram(g, source):
    return {r.id for r in rest.execute(g, "kout", {
        "source": source, "max_depth": 1, "max_degree": -1}).collect()}


def test_ram_tier_sees_edges_batch_post(spark):
    g = _adversarial(spark)
    assert _kout_ram(g, "v!iso") == set()
    rest.execute_graph_crud(g, "POST", "edges/batch", [
        {"label": "e", "outV": "v!iso", "inV": "v!30", "properties": {}}])
    assert _kout_ram(g, "v!iso") == {"v!30"}


def test_ram_tier_sees_rebound_edges(spark):
    g = _adversarial(spark)
    assert _kout_ram(g, "v!iso") == set()
    g.edges = upsert_edges(
        g.edges, spark.createDataFrame([_edge("v!iso", "v!1")], E_SCHEMA))
    assert _kout_ram(g, "v!iso") == {"v!1"}
