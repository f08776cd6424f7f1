"""The RAM/distributed tier decision (``ram.takes_ram``): a forced
engine never switches tiers silently, an unknown engine is refused,
and 'auto' pays no edge count for a call the RAM kernels cannot
serve."""

from __future__ import annotations

import pytest

from incubator_hugegraph_spark import ram
from incubator_hugegraph_spark.algorithms.centrality import (
    betweenness_centrality, closeness_centrality, degree_centrality,
    eigenvector_centrality, stress_centrality)
from incubator_hugegraph_spark.algorithms.community import (
    cluster_coefficient, k_core, lpa, triangle_count)
from incubator_hugegraph_spark.algorithms.pagerank import page_rank
from incubator_hugegraph_spark.algorithms.wcc import wcc
from incubator_hugegraph_spark.operators.bfs import (
    bfs, customized_kneighbor, customized_kout, kneighbor, kneighbor_paths,
    kout)
from incubator_hugegraph_spark.operators.neighbors import (
    adamic_adar, count_steps, jaccard_similarity, resource_allocation,
    same_neighbors, same_neighbors_multi)
from incubator_hugegraph_spark.operators.paths import (
    all_shortest_paths, collection_paths, crosspoints, customized_crosspoints,
    customized_paths, multi_node_shortest_path, paths, rays, rings,
    rings_detect, shortest_path, template_paths)
from incubator_hugegraph_spark.operators.rank import (
    neighbor_rank, personal_rank)
from incubator_hugegraph_spark.operators.similarity import (
    fusiform_similarity, jaccard_top, jaccard_top_batch)
from incubator_hugegraph_spark.operators.weighted import sssp

A, B = "customer!1", "customer!2"
CAP = {"max_degree": 5}
CAPPED_STEPS = {"steps": [{"max_degree": 5}]}

#: (operator, positional args after the graph, one argument the RAM
#: kernels cannot serve)
GATED = [
    (page_rank, (), CAP),
    (bfs, ([A], 2), CAP),
    (bfs, ([A], 2), {"skip_degree": 5}),
    (kout, (A, 2), CAP),
    (kout, (A, 2), {"nearest": False}),
    (kneighbor, (A, 2), CAP),
    (kneighbor_paths, (A, 2), CAP),
    (customized_kout, (A,), CAPPED_STEPS),
    (customized_kneighbor, (A,), CAPPED_STEPS),
    (paths, (A, B, 3), CAP),
    (paths, (A, B, 3), {"shortest_only": True}),
    (shortest_path, (A, B, 3), CAP),
    (all_shortest_paths, (A, B, 3), CAP),
    (rays, (A, 2), CAP),
    (rings, (A, 2), CAP),
    (template_paths, ([A], [B]), CAPPED_STEPS),
    (multi_node_shortest_path, ([A, B], 2), CAP),
    (crosspoints, (A, B, 2), CAP),
    (customized_crosspoints, ([A],), {"patterns": [[{"max_degree": 5}]]}),
    (collection_paths, ([A], [B], 2), CAP),
    (rings_detect, (3,), CAP),
    (same_neighbors, (A, B), CAP),
    (jaccard_similarity, (A, B), CAP),
    (adamic_adar, (A, B), CAP),
    (resource_allocation, (A, B), CAP),
    (same_neighbors_multi, ([A, B],), CAP),
    (count_steps, (A,), CAPPED_STEPS),
    (count_steps, (A,), {"steps": [{"skip_degree": 5}]}),
    (personal_rank, (A, "placed"), CAP),
    (neighbor_rank, (A,), CAPPED_STEPS),
    (jaccard_top, (A, 3), CAP),
    (jaccard_top_batch, ([A], 3), CAP),
    (fusiform_similarity, ("customer",), CAP),
    (fusiform_similarity, ("customer",), {"group_property": "name"}),
]

#: operators whose every argument the RAM kernels serve
UNGATED = [
    (wcc, (), {}), (degree_centrality, (), {}),
    (closeness_centrality, ([A], 2), {}), (eigenvector_centrality, (), {}),
    (betweenness_centrality, ([A], 2), {}),
    (stress_centrality, ([A], 2), {}), (triangle_count, (), {}),
    (cluster_coefficient, (), {}), (k_core, (2,), {}), (lpa, (), {}),
    (sssp, (A, None), {}), (customized_paths, ([A], [{}]), {}),
]


def _id(case) -> str:
    return case[0].__name__ + "".join(f"-{k}" for k in case[2])


@pytest.mark.parametrize("op,args,dist_only", GATED,
                         ids=[_id(c) for c in GATED])
def test_forced_ram_refuses_a_dist_only_argument(graph, op, args,
                                                 dist_only):
    with pytest.raises(ValueError, match="engine='ram' cannot serve"):
        op(graph, *args, **dist_only, engine="ram")


@pytest.mark.parametrize("op,args,kw", GATED + UNGATED,
                         ids=[_id(c) for c in GATED + UNGATED])
def test_unknown_engine_is_refused(graph, op, args, kw):
    with pytest.raises(ValueError, match="engine must be"):
        op(graph, *args, **kw, engine="dsit")


def test_wcc_fixed_rounds_forced_ram_runs_the_kernel(graph, monkeypatch):
    calls = []
    kernel = ram.ram_wcc

    def counted(*a, **kw):
        calls.append(a)
        return kernel(*a, **kw)
    monkeypatch.setattr(ram, "ram_wcc", counted)
    wcc(graph, fixed_rounds=1, engine="ram").collect()
    assert len(calls) == 1


def test_gate_counts_edges_only_for_a_servable_auto_call(monkeypatch):
    fits = []
    monkeypatch.setattr(ram, "ram_fits", lambda g: fits.append(g) or True)
    g = object()
    assert ram.takes_ram(g, "auto", servable=False) is False
    assert ram.takes_ram(g, "dist") is False
    assert ram.takes_ram(g, "ram") is True
    assert fits == []
    assert ram.takes_ram(g, "auto") is True
    assert fits == [g]
