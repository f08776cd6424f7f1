"""Path-family traversers: shortestpath, allshortestpaths, paths,
rays, rings, templatepaths, multinodeshortestpath.

Reference: ShortestPathTraverser.java:45-101 (+bidirectional frontiers
:179-257), PathsTraverser.java:38-94, SubGraphTraverser.java:59-…
(rays/rings), TemplatePathsTraverser.java:42-106,
MultiNodeShortestPathTraverser.java:68-113, records machinery
core/traversal/algorithm/records/.

Design: path-carrying BFS. A frontier row is (id, path array); one
round joins the frontier to adjacency, drops row-revisits
(simple-path predicate array_contains(path, dst) — the reference's
cyclicPath check), and dedups on the vertex sequence (parallel
multi-edges collapse to one vertex-path, as HugeGraph Path objects
do). Paths are emitted as '>'-joined strings for stable comparison.

Scale: path enumeration is combinatorial — the reference's
degree/capacity/limit guards are enforced here for the same reason
(SURVEY §7.4#1). Frontiers are broadcast; the edge side never
reshuffles. For truly deep shortest-path-only workloads the
parent-pointer BFS in bfs.py is the cheaper kernel; these operators
exist for the path-materializing semantics.

Determinism: where the reference returns an arbitrary path
(insertion order), we return the lexicographically smallest —
documented deviation (SURVEY §7.4#4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from incubator_hugegraph_spark import ram
from incubator_hugegraph_spark.graph import (
    BOTH,
    NO_LIMIT,
    OUT,
    PropertyGraph,
    checkpointed,
    iterate_hygiene,
)
from incubator_hugegraph_spark.operators.bfs import loop_adj, prepared_adj

PATH_SEP = ">"


def _seed(graph: PropertyGraph, ids: list[str]) -> DataFrame:
    return (graph.spark.createDataFrame([(i,) for i in ids], "id string")
            .select("id", F.array("id").alias("path")))


def _extend(frontier: DataFrame, adj: DataFrame,
            allow_dst: str | None = None) -> DataFrame:
    """One path-extension round. Drops cyclic continuations (dst
    already on the path) unless dst == allow_dst (ring closing).

    No dedup needed: ``adj`` is pre-deduped (src,dst) pairs and the
    frontier's rows are unique paths, so each extension row
    (path + [dst]) is unique by induction — a distinct() here would
    be a pure shuffle tax on the widest column in the loop."""
    ext = (adj.join(F.broadcast(frontier), on=adj.src == frontier.id)
           .select(F.col("dst").alias("id"),
                   F.concat("path", F.array("dst")).alias("path")))
    no_cycle = ~F.array_contains(
        F.slice("path", 1, F.size("path") - 1), F.col("id"))
    if allow_dst is not None:
        no_cycle = no_cycle | (F.col("id") == F.lit(allow_dst))
    return ext.filter(no_cycle)


def _emit(df: DataFrame) -> DataFrame:
    return df.select(F.array_join("path", PATH_SEP).alias("path"),
                     (F.size("path") - 1).alias("length"))


def paths(graph: PropertyGraph, source: str, target: str, max_depth: int,
          direction: str = OUT, labels: list[str] | None = None,
          max_degree: int = NO_LIMIT, limit: int = NO_LIMIT,
          shortest_only: bool = False, first_only: bool = False,
          engine: str = "auto") -> DataFrame:
    """All simple paths source→target with length ≤ max_depth
    (PathsTraverser.java:38-94). shortest_only → stop at the first
    depth that reaches target (allshortestpaths); first_only
    additionally keeps just the lexicographically smallest
    (shortestpath). Returns (path, length).

    ``engine``: see ``ram.takes_ram``, as for every operator of this
    module; a degree cap, ``shortest_only`` and a step ``max_degree``
    are dist-only, and a kernel returning None (over its row budget)
    hands over to the distributed loop."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT
                     and not shortest_only):
        out = ram.ram_paths(graph, source, target, max_depth, direction,
                            labels, limit)
        if out is not None:
            return out
    adj = loop_adj(graph, direction, labels, max_degree, max_depth)
    frontier = _seed(graph, [source])
    found: DataFrame | None = None
    for k in range(1, max_depth + 1):
        frontier = iterate_hygiene(_extend(frontier, adj), k)
        hits = frontier.filter(F.col("id") == target)
        if shortest_only:
            if hits.limit(1).count() > 0:
                found = _emit(hits)
                break
        else:
            found = _emit(hits) if found is None \
                else found.unionByName(_emit(hits))
        # target is a dead end for simple paths — stop extending at it
        frontier = frontier.filter(F.col("id") != target)
    if found is None:
        found = graph.spark.createDataFrame([], "path string, length int")
    if first_only:
        found = found.orderBy("length", "path").limit(1)
    elif limit != NO_LIMIT:
        found = found.orderBy("length", "path").limit(limit)
    return found


def shortest_path(graph: PropertyGraph, source: str, target: str,
                  max_depth: int, direction: str = OUT,
                  labels: list[str] | None = None,
                  max_degree: int = NO_LIMIT,
                  skip_degree: int = NO_LIMIT,
                  engine: str = "auto") -> DataFrame:
    """One shortest path (ShortestPathTraverser.java:45-101);
    deterministic min-lexicographic pick. Returns (path, length)."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT):
        out = ram.ram_shortest_paths(graph, source, target, max_depth,
                                     direction, labels, True)
        if out is not None:
            return out
    return paths(graph, source, target, max_depth, direction, labels,
                 max_degree, shortest_only=True, first_only=True)


def all_shortest_paths(graph: PropertyGraph, source: str, target: str,
                       max_depth: int, direction: str = OUT,
                       labels: list[str] | None = None,
                       max_degree: int = NO_LIMIT,
                       engine: str = "auto") -> DataFrame:
    """All shortest paths (ShortestPathTraverser.java:104-…)."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT):
        out = ram.ram_shortest_paths(graph, source, target, max_depth,
                                     direction, labels, False)
        if out is not None:
            return out
    return paths(graph, source, target, max_depth, direction, labels,
                 max_degree, shortest_only=True)


def rays(graph: PropertyGraph, source: str, max_depth: int,
         direction: str = OUT, labels: list[str] | None = None,
         max_degree: int = NO_LIMIT, limit: int = NO_LIMIT,
         engine: str = "auto") -> DataFrame:
    """Paths from source until leaf or depth, no rings
    (SubGraphTraverser.rays :59-63, emission rules of forward()
    :196-260): a path is emitted when its terminal vertex has NO
    edges in the direction, when (BOTH mode) its single physical edge
    leads back to the parent (the A->B<-A "fake ring" dead end), or
    when the depth budget exhausts. A path whose continuations are
    all on-path at a multi-edge vertex is dropped silently — the
    reference's behavior, reproduced exactly."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT):
        out = ram.ram_rays(graph, source, max_depth, direction, labels,
                           limit)
        if out is not None:
            return out
    adj = loop_adj(graph, direction, labels, max_degree, max_depth)
    # physical edge count per vertex (pre-dedup — uniqueEdge counts
    # edges, not distinct neighbors) + the single neighbor when deg=1
    phys = prepared_adj(graph, direction, labels, max_degree) \
        .select("src", "dst")
    vstat = phys.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"),
                                    F.max("dst").alias("__nbr"))
    vstat = vstat.withColumnRenamed("src", "id")
    frontier = _seed(graph, [source])
    out: DataFrame | None = None

    def _add(acc: DataFrame | None, part: DataFrame) -> DataFrame:
        return part if acc is None else acc.unionByName(part)

    for k in range(1, max_depth + 1):
        # vstat is O(|V|) (one row per vertex with an edge) — force-
        # broadcasting it every round dies on the broadcast limit at
        # scale (review r06); the frontier is the small side, so let
        # Catalyst/AQE pick the build side
        fs = frontier.join(vstat, on="id", how="left")
        # terminal has zero edges in this direction → ray
        out = _add(out, _emit(fs.filter(F.col("__deg").isNull())
                              .select("id", "path")))
        if direction == BOTH and k >= 2:
            back_only = fs.filter(
                (F.col("__deg") == 1)
                & (F.col("__nbr") == F.element_at("path", -2)))
            out = _add(out, _emit(back_only.select("id", "path")))
        ext = iterate_hygiene(_extend(frontier, adj), k)
        if k == max_depth:
            # depth exhausted — every surviving extension is a ray
            out = _add(out, _emit(ext))
            break
        frontier = ext
        if frontier.limit(1).count() == 0:
            break
    if out is None:
        out = graph.spark.createDataFrame([], "path string, length int")
    if limit != NO_LIMIT:
        out = out.orderBy("length", "path").limit(limit)
    return out


def rings(graph: PropertyGraph, source: str, max_depth: int,
          direction: str = OUT, labels: list[str] | None = None,
          max_degree: int = NO_LIMIT, limit: int = NO_LIMIT,
          engine: str = "auto") -> DataFrame:
    """Cyclic paths from source back to source (source-in-ring mode,
    SubGraphTraverser.rings :65-…; RingsDetectAlgorithm.java for the
    whole-graph job). Returns (path, length) with source at both ends.

    Reference ring identity (RingPath.equals/hashCode): a ring equals
    its REVERSE, so each undirected cycle reports once — we emit the
    deterministic representative least(path, reversed) (the reference
    keeps insertion order, SURVEY §7.4#4 deviation). In BOTH mode an
    immediate backtrack source>X>source over a single physical edge
    is NOT a ring — it only counts when ≥2 physical edges connect the
    pair (hasMultiEdges, SubGraphTraverser.java:253-260)."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT):
        out = ram.ram_rings(graph, source, max_depth, direction, labels,
                            limit)
        if out is not None:
            return out
    adj = loop_adj(graph, direction, labels, max_degree, max_depth)
    frontier = _seed(graph, [source])
    out: DataFrame | None = None
    for k in range(1, max_depth + 1):
        ext = iterate_hygiene(_extend(frontier, adj, allow_dst=source),
                              k)
        closed = ext.filter(F.col("id") == source)
        if k == 2 and direction == BOTH:
            e = graph.edges if labels is None else \
                graph.edges.filter(F.col("label").isin(labels))
            multi = (e.select(F.least("src", "dst").alias("a"),
                              F.greatest("src", "dst").alias("b"))
                     .groupBy("a", "b")
                     .agg(F.count(F.lit(1)).alias("n"))
                     .filter(F.col("n") >= 2).select("a", "b"))
            mid = F.col("path")[1]
            closed = (closed
                      .withColumn("a", F.least(mid, F.col("id")))
                      .withColumn("b", F.greatest(mid, F.col("id")))
                      .join(multi, on=["a", "b"], how="left_semi")
                      .drop("a", "b"))
        closed = closed.select(
            F.least(F.array_join("path", PATH_SEP),
                    F.array_join(F.reverse("path"), PATH_SEP))
            .alias("path"),
            (F.size("path") - 1).alias("length"))
        out = closed if out is None else out.unionByName(closed)
        frontier = ext.filter(F.col("id") != source)
    if out is None:
        out = graph.spark.createDataFrame([], "path string, length int")
    out = out.distinct()
    if limit != NO_LIMIT:
        out = out.orderBy("length", "path").limit(limit)
    return out


def template_paths(graph: PropertyGraph, sources: list[str],
                   targets: list[str], steps: list[dict],
                   limit: int = NO_LIMIT,
                   engine: str = "auto") -> DataFrame:
    """Paths matching a step template (TemplatePathsTraverser.java:42-106,
    steps/RepeatEdgeStep.java). Each step: {direction, labels,
    max_degree, max_times} — a step may repeat 1..max_times times; a
    path matches if it consumes the whole template and ends in
    ``targets``. Returns (path, length)."""
    if ram.takes_ram(graph, engine, all(
            st.get("max_degree", NO_LIMIT) == NO_LIMIT for st in steps)):
        out = ram.ram_template_paths(graph, sources, targets, steps,
                                     limit)
        if out is not None:
            return out
    out: DataFrame | None = None
    seqs = _unroll_templates(steps)
    for seq in seqs:
        frontier = _seed(graph, sources)
        for i, st in enumerate(seq):
            adj = prepared_adj(graph, st.get("direction", OUT),
                               st.get("labels"),
                               st.get("max_degree", NO_LIMIT)) \
                .select("src", "dst").distinct()
            frontier = iterate_hygiene(_extend(frontier, adj), i)
        hits = _emit(frontier.filter(F.col("id").isin(targets)))
        out = hits if out is None else out.unionByName(hits)
    out = out.distinct() if out is not None else \
        graph.spark.createDataFrame([], "path string, length int")
    if limit != NO_LIMIT:
        out = out.orderBy("length", "path").limit(limit)
    return out


def _unroll_templates(steps: list[dict]) -> list[list[dict]]:
    seqs: list[list[dict]] = [[]]
    for st in steps:
        times = int(st.get("max_times", 1))
        new: list[list[dict]] = []
        for r in range(1, times + 1):
            for s in seqs:
                new.append(s + [st] * r)
        seqs = new
    return seqs


def multi_node_shortest_path(graph: PropertyGraph, ids: list[str],
                             max_depth: int, direction: str = BOTH,
                             labels: list[str] | None = None,
                             max_degree: int = NO_LIMIT,
                             engine: str = "auto") -> DataFrame:
    """Pairwise shortest paths among a vertex set
    (MultiNodeShortestPathTraverser.java:68-113): one BFS frontier
    keyed by (origin, vertex). Returns (source, target, path, length)
    — deterministic min-lexicographic path per ordered pair.

    NOT path-enumerating: every intermediate vertex of a shortest path
    sits at exactly its BFS level (dist(p_i) = i — otherwise a shorter
    path to the target exists), so the frontier collapses to ONE
    min-lex path per (origin, vertex) with visited-set dedup. The
    per-round state is O(|ids| · |V|) instead of O(#simple paths) —
    on a dense neighborhood web that is the difference between ~10^5
    and ~10^6.5 frontier rows by round 3. The min-lex collapse is
    exact: within a (origin, vertex, level) group no path string is a
    prefix of another (equal id-count, identical last id), so
    min(path_{k-1}) + '>' + v = min over all level-k paths via any
    predecessor.

    ``engine``: see ``ram.takes_ram`` (a degree cap is dist-only);
    the RAM tier (ram.ram_multi_node_shortest_path) returns
    bit-identical min-lex paths, and both tiers share the driver
    oracle."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT):
        return ram.ram_multi_node_shortest_path(graph, ids, max_depth,
                                                direction, labels)
    spark = graph.spark
    adj = loop_adj(graph, direction, labels, max_degree, max_depth)
    frontier = (spark.createDataFrame([(i,) for i in ids], "origin string")
                .select("origin", F.col("origin").alias("id"),
                        F.col("origin").alias("path")))
    targets = spark.createDataFrame([(i,) for i in ids], "id string")
    visited = frontier.select("origin", "id")
    out: DataFrame | None = None
    # broadcast gates, same pattern as bfs() (review r06: frontier and
    # the cumulatively-growing visited set were force-broadcast every
    # round with no size cap — visited approaches |ids|·|reached|,
    # which dies on the broadcast limit at scale); `targets` stays
    # broadcast unconditionally (|ids| rows, request-sized)
    from incubator_hugegraph_spark.operators.bfs import (
        BROADCAST_FRONTIER_LIMIT)
    frontier_rows = len(ids)
    seen_total = len(ids)
    for k in range(1, max_depth + 1):
        fside = F.broadcast(frontier) \
            if frontier_rows <= BROADCAST_FRONTIER_LIMIT else frontier
        vside = F.broadcast(visited) \
            if seen_total <= BROADCAST_FRONTIER_LIMIT else visited
        ext = (adj.join(fside, on=adj.src == frontier.id)
               .select("origin", F.col("dst").alias("id"),
                       F.concat_ws(PATH_SEP, "path", "dst").alias("path"))
               .groupBy("origin", "id")
               .agg(F.min("path").alias("path"))
               .join(vside, on=["origin", "id"], how="left_anti"))
        # the frontier feeds BOTH the pair emission and the next round —
        # materialize once; LAZY, fused with the count below (a full
        # action), so each round is one job (optimization r10)
        ext = checkpointed(ext, eager=False)
        hits = (ext.join(F.broadcast(targets), on="id")
                .select(F.col("origin").alias("source"),
                        F.col("id").alias("target"), "path",
                        F.lit(k).alias("length")))
        out = hits if out is None else out.unionByName(hits)
        visited = visited.unionByName(ext.select("origin", "id"))
        frontier_rows = ext.count()
        seen_total += frontier_rows
        frontier = ext
    if out is None:
        return spark.createDataFrame(
            [], "source string, target string, path string, length int")
    # UNORDERED pair semantics (MultiNodeShortestPathTraverser builds
    # combinations `cmn(..., 2, ...)` in input-list order): keep only
    # pairs whose source precedes target in ``ids`` — one search per
    # pair, C(n,2) results, exactly the reference cardinality.
    ords = spark.createDataFrame(
        [(v, i) for i, v in enumerate(ids)], "id string, ord int")
    so = ords.select(F.col("id").alias("source"),
                     F.col("ord").alias("__so"))
    to = ords.select(F.col("id").alias("target"),
                     F.col("ord").alias("__to"))
    return (out.join(F.broadcast(so), on="source")
            .join(F.broadcast(to), on="target")
            .filter(F.col("__so") < F.col("__to"))
            .select("source", "target", "path", "length"))


def crosspoints(graph: PropertyGraph, source: str, target: str,
                max_depth: int, direction: str = OUT,
                labels: list[str] | None = None,
                max_degree: int = NO_LIMIT,
                limit: int = NO_LIMIT,
                engine: str = "auto") -> DataFrame:
    """Crosspoints of two vertices (CrosspointsAPI.java:58-93 →
    PathsTraverser.paths with crosspoint annotation): BOTH endpoints
    expand along ``direction``; a crosspoint X is where the two
    expansions meet, and the path is source→…→X←…←target with total
    length ≤ max_depth. Deviation (documented): combined paths must be
    simple (the reference only checks each half). Returns
    (crosspoint, path, length) ordered (length, path), limited."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT):
        out = ram.ram_crosspoints(graph, source, target, max_depth,
                                  direction, labels, limit)
        if out is not None:
            return out
    adj = loop_adj(graph, direction, labels, max_degree, max_depth)

    def levels(start: str, upto: int) -> list[DataFrame]:
        lv = [_seed(graph, [start])]
        for k in range(1, upto + 1):
            nxt = iterate_hygiene(_extend(lv[-1], adj), k)
            lv.append(nxt)
        return lv

    # the meet loop reads fwd only to ceil(d/2) and bwd to floor(d/2)
    # — materializing both sides to FULL depth defeated the
    # bidirectional split (path counts grow ~fanout^k, so the excess
    # levels dominated the whole query; review r06)
    fwd = levels(source, (max_depth + 1) // 2)
    bwd = levels(target, max_depth // 2)
    out: DataFrame | None = None
    # One entry per path, crosspoint = the meet vertex at the
    # ALTERNATING split (PathsTraverser runs forward first, so a
    # length-L path is discovered with f = ceil(L/2) forward steps
    # and b = L - f backward steps; the crosspoint is path[f]).
    for total in range(1, max_depth + 1):
        lf = (total + 1) // 2
        lb = total - lf
        f = fwd[lf].select(F.col("id").alias("x"),
                           F.col("path").alias("fp"))
        b = bwd[lb].select(F.col("id").alias("x"),
                           F.col("path").alias("bp"))
        hit = (f.join(b, on="x")
               .select("x", F.concat(
                   "fp", F.reverse(F.slice(
                       "bp", 1, F.greatest(F.size("bp") - 1, F.lit(0))))
               ).alias("path")))
        hit = hit.filter(F.size(F.array_distinct("path"))
                         == F.size("path"))
        emitted = hit.select(
            F.col("x").alias("crosspoint"),
            F.array_join("path", PATH_SEP).alias("path"),
            (F.size("path") - 1).alias("length"))
        out = emitted if out is None else out.unionByName(emitted)
    if out is None:
        return graph.spark.createDataFrame(
            [], "crosspoint string, path string, length int")
    out = out.distinct().orderBy("length", "path")
    if limit != NO_LIMIT:
        out = out.limit(limit)
    return out


def _weighted_adj(graph: PropertyGraph, direction: str,
                  labels: list[str] | None, weight_by: str | None,
                  default_weight: float) -> DataFrame:
    """(src, dst, w) with w = props[weight_by] (cast double) or the
    step's default weight; parallel edges keep max w per vertex pair
    (deterministic collapse — the reference keeps one edge per
    adjacency entry)."""
    e = graph.edges
    if labels:
        e = e.filter(F.col("label").isin(labels))
    if weight_by is not None:
        w = F.coalesce(F.element_at("props", weight_by).cast("double"),
                       F.lit(default_weight))
    else:
        w = F.lit(default_weight)
    out = e.select("src", "dst", w.alias("w"))
    inn = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                   w.alias("w"))
    if direction == OUT:
        d = out
    elif direction == "IN":
        d = inn
    else:
        d = out.unionByName(inn)
    return d.groupBy("src", "dst").agg(F.max("w").alias("w"))


def customized_paths(graph: PropertyGraph, sources: list[str],
                     steps: list[dict], sorted_by_weight: bool = False,
                     limit: int = NO_LIMIT,
                     engine: str = "auto") -> DataFrame:
    """Weighted multi-step walk (CustomizePathsTraverser.java:76-174;
    steps/WeightedEdgeStep.java): each step carries direction/labels/
    weight_by/default_weight/sample. Paths follow every step exactly
    once; per-anchor ``sample`` keeps s adjacent targets (deviation:
    deterministic min-id sample instead of the reference's random
    sample — required for oracle reproducibility). Returns
    (path, weight); sorted mode orders by total weight desc.

    Step dict keys: direction ('OUT'|'IN'|'BOTH'), labels (list),
    weight_by (props key | None), default_weight (float), sample
    (int, -1 = all)."""
    if ram.takes_ram(graph, engine):
        out = ram.ram_customized_paths(graph, sources, steps,
                                       sorted_by_weight, limit)
        if out is not None:
            return out
    from pyspark.sql.window import Window
    frontier = (_seed(graph, sources)
                .withColumn("weight", F.lit(0.0)))
    for step in steps:
        adj = _weighted_adj(graph, step.get("direction", OUT),
                            step.get("labels"), step.get("weight_by"),
                            float(step.get("default_weight", 1.0)))
        sample = int(step.get("sample", NO_LIMIT))
        if sample != NO_LIMIT:
            wnd = Window.partitionBy("src").orderBy(F.asc("dst"))
            adj = (adj.withColumn("__rn", F.row_number().over(wnd))
                   .filter(F.col("__rn") <= sample).drop("__rn"))
        ext = (adj.join(F.broadcast(frontier), on=adj.src == frontier.id)
               .select(F.col("dst").alias("id"),
                       F.concat("path", F.array("dst")).alias("path"),
                       (F.col("weight") + F.col("w")).alias("weight")))
        frontier = ext.filter(~F.array_contains(
            F.slice("path", 1, F.size("path") - 1), F.col("id"))).distinct()
    out = frontier.select(F.array_join("path", PATH_SEP).alias("path"),
                          F.round("weight", 6).alias("weight"))
    if sorted_by_weight:
        out = out.orderBy(F.desc("weight"), F.asc("path"))
    else:
        out = out.orderBy("path")
    if limit != NO_LIMIT:
        out = out.limit(limit)
    return out


def customized_crosspoints(graph: PropertyGraph, sources: list[str],
                           patterns: list[list[dict]],
                           limit: int = NO_LIMIT,
                           engine: str = "auto") -> DataFrame:
    """Common endpoints reached from EVERY source via any path pattern
    (CustomizedCrosspointsTraverser.crosspointsPaths :105-160 +
    intersectionPaths :55-99): walk each pattern's steps from all
    sources (cycle-free paths); a crosspoint is an endpoint with
    paths from all |sources| sources; if any source reaches nothing
    the result is empty. Returns (crosspoint) ordered by id.

    Pattern = list of step dicts (direction, labels, max_degree)."""
    if ram.takes_ram(graph, engine, all(
            st.get("max_degree", NO_LIMIT) == NO_LIMIT
            for pat in patterns for st in pat)):
        out = ram.ram_customized_crosspoints(graph, sources, patterns,
                                             limit)
        if out is not None:
            return out
    spark = graph.spark
    ends: DataFrame | None = None
    for pattern in patterns:
        frontier = (spark.createDataFrame([(s,) for s in sources],
                                          "origin string")
                    .select("origin", F.col("origin").alias("id"),
                            F.array("origin").alias("path")))
        for step in pattern:
            adj = prepared_adj(graph, step.get("direction", OUT),
                               step.get("labels"),
                               step.get("max_degree", NO_LIMIT)) \
                .select("src", "dst").distinct()
            ext = (adj.join(F.broadcast(frontier), on=adj.src == frontier.id)
                   .select("origin", F.col("dst").alias("id"),
                           F.concat("path", F.array("dst")).alias("path")))
            frontier = ext.filter(~F.array_contains(
                F.slice("path", 1, F.size("path") - 1),
                F.col("id"))).distinct()
        e = frontier.select("origin", "id").distinct()
        ends = e if ends is None else ends.unionByName(e)
    if ends is None:
        return spark.createDataFrame([], "crosspoint string")
    n_src = len(set(sources))
    reached = ends.select("origin").distinct().count()
    if reached != n_src:
        return spark.createDataFrame([], "crosspoint string")
    out = (ends.distinct().groupBy("id")
           .agg(F.countDistinct("origin").alias("n"))
           .filter(F.col("n") == n_src)
           .select(F.col("id").alias("crosspoint"))
           .orderBy("crosspoint"))
    if limit != NO_LIMIT:
        out = out.limit(limit)
    return out


def collection_paths(graph: PropertyGraph, sources: list[str],
                     targets: list[str], max_depth: int,
                     direction: str = OUT,
                     labels: list[str] | None = None,
                     max_degree: int = NO_LIMIT, nearest: bool = False,
                     limit: int = NO_LIMIT,
                     engine: str = "auto") -> DataFrame:
    """Advanced paths POST (CollectionPathsTraverser.java:43-102):
    simple paths from ANY source to ANY target with length ≤ max_depth
    under one edge-step filter. nearest=True keeps only the
    shortest (min-lex) path per (source, target) pair — the
    set-oriented equivalent of the reference's NearestTraverser
    first-reach dedup. Returns (source, target, path, length)."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT):
        out = ram.ram_collection_paths(graph, sources, targets, max_depth,
                                       direction, labels, nearest, limit)
        if out is not None:
            return out
    spark = graph.spark
    adj = loop_adj(graph, direction, labels, max_degree, max_depth)
    tdf = spark.createDataFrame([(t,) for t in targets], "t string")
    frontier = (spark.createDataFrame([(s,) for s in sources],
                                      "origin string")
                .select("origin", F.col("origin").alias("id"),
                        F.array("origin").alias("path")))
    out: DataFrame | None = None
    for k in range(1, max_depth + 1):
        ext = (adj.join(F.broadcast(frontier), on=adj.src == frontier.id)
               .select("origin", F.col("dst").alias("id"),
                       F.concat("path", F.array("dst")).alias("path")))
        frontier = iterate_hygiene(
            ext.filter(~F.array_contains(
                F.slice("path", 1, F.size("path") - 1), F.col("id")))
            .distinct(), k)
        hits = (frontier.join(F.broadcast(tdf), on=frontier.id == tdf.t)
                .filter(F.col("id") != F.col("origin"))
                .select(F.col("origin").alias("source"),
                        F.col("id").alias("target"),
                        F.array_join("path", PATH_SEP).alias("path"),
                        F.lit(k).alias("length")))
        out = hits if out is None else out.unionByName(hits)
        # targets are dead ends for further extension (reference stops
        # a path at the first target hit)
        frontier = frontier.join(F.broadcast(tdf),
                                 on=frontier.id == tdf.t, how="left_anti")
    if out is None:
        return spark.createDataFrame(
            [], "source string, target string, path string, length int")
    if nearest:
        from pyspark.sql.window import Window
        w = Window.partitionBy("source", "target") \
            .orderBy("length", "path")
        out = (out.withColumn("__rn", F.row_number().over(w))
               .filter(F.col("__rn") == 1).drop("__rn"))
    out = out.orderBy("length", "path")
    if limit != NO_LIMIT:
        out = out.limit(limit)
    return out


def rings_detect(graph: PropertyGraph, max_depth: int,
                 direction: str = OUT,
                 labels: list[str] | None = None,
                 max_degree: int = NO_LIMIT,
                 limit: int = NO_LIMIT,
                 engine: str = "auto") -> DataFrame:
    """Whole-graph ring detection job (path/RingsDetectAlgorithm.java):
    every directed cycle of length ≤ max_depth, canonicalized so each
    cycle is reported once, anchored at its minimum vertex (the
    reference dedups rings the same way via Path.ownedBy). One
    multi-source path-join loop — all anchors advance together.
    Returns (path, length) with path = min>…>min.

    The RAM tier is explicit opt-in only: the ALL-SOURCES enumeration
    favors the distributed plan even on hot graphs (measured — the
    ring set itself is the output and dominates the work), so 'auto'
    stays distributed for this job."""
    if engine != "auto" and ram.takes_ram(graph, engine,
                                          max_degree == NO_LIMIT):
        out = ram.ram_rings_detect(graph, max_depth, direction, labels,
                                   limit)
        if out is not None:
            return out
    adj = loop_adj(graph, direction, labels, max_degree, max_depth)
    # anchor at every vertex; prune continuations below the anchor so
    # only the min-vertex anchor survives — this both canonicalizes
    # and cuts the search space |V|-fold
    frontier = (adj.select(F.col("src").alias("origin")).distinct()
                .select("origin", F.col("origin").alias("id"),
                        F.array("origin").alias("path")))
    out: DataFrame | None = None
    for k in range(1, max_depth + 1):
        ext = (adj.join(frontier, on=adj.src == frontier.id)
               .select("origin", F.col("dst").alias("id"),
                       F.concat("path", F.array("dst")).alias("path"))
               .filter(F.col("id") >= F.col("origin")))
        rings_k = (ext.filter(F.col("id") == F.col("origin"))
                   .filter(F.size("path") > 2)  # no self-loop echo of k=1
                   # ring == its reverse (RingPath.equals) — keep the
                   # lexicographic-min representative
                   .select(F.least(
                       F.array_join("path", PATH_SEP),
                       F.array_join(F.reverse("path"), PATH_SEP))
                       .alias("path"),
                       F.lit(k).alias("length"),
                       F.least(F.col("path").getItem(0),
                               F.col("path").getItem(1)).alias("a"),
                       F.greatest(F.col("path").getItem(0),
                                  F.col("path").getItem(1)).alias("b")))
        if k == 2 and direction == BOTH:
            # a-b-a under BOTH traverses the SAME physical edge out
            # and back — a real 2-ring needs ≥2 physical edges between
            # the pair (hasMultiEdges, SubGraphTraverser.java:253-260;
            # rings() already enforces this — review r06)
            e = graph.edges if labels is None else \
                graph.edges.filter(F.col("label").isin(labels))
            multi = (e.select(F.least("src", "dst").alias("a"),
                              F.greatest("src", "dst").alias("b"))
                     .groupBy("a", "b")
                     .agg(F.count(F.lit(1)).alias("n"))
                     .filter(F.col("n") >= 2).select("a", "b"))
            rings_k = rings_k.join(multi, on=["a", "b"], how="leftsemi")
        rings_k = rings_k.select("path", "length")
        if k >= 2:
            out = rings_k if out is None else out.unionByName(rings_k)
        frontier = iterate_hygiene(
            ext.filter(F.col("id") != F.col("origin"))
            .filter(~F.array_contains(
                F.slice("path", 1, F.size("path") - 1), F.col("id")))
            .distinct(), k)
    if out is None:
        return graph.spark.createDataFrame([], "path string, length int")
    out = out.distinct().orderBy("length", "path")
    if limit != NO_LIMIT:
        out = out.limit(limit)
    return out
