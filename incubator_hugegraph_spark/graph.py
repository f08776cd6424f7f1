"""PropertyGraph: the two-DataFrame property graph.

Canonical storage (SURVEY §1.4):

    vertices(id string, label string, props map<string,string>,
             expired_at timestamp)
    edges(src string, dst string, label string, sort_values string,
          props map<string,string>, expired_at timestamp)

plus typed per-label views registered by the builder. Direction
handling mirrors the reference's dual-row edge storage (HugeEdge OUT
and IN rows, core/backend/serializer/BinarySerializer.java:513;
Directions.java:27-31): ``adj(direction)`` is the union view instead
of a second physical copy.

Scale posture: at 100 TB ``edges`` is written partitioned/bucketed by
``src`` (the reference co-locates edges with their owner vertex via
the EdgeId layout, core/backend/id/EdgeId.java:31-38 — same locality
trick); ``vertices`` by ``id``. All operators below are pure
DataFrame programs — no collect() in any hot path.
"""

from __future__ import annotations

from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from incubator_hugegraph_spark.schema import GraphSchema

OUT, IN, BOTH = "OUT", "IN", "BOTH"

# Reference guard defaults, core/traversal/algorithm/HugeTraverser.java:84-92.
DEFAULT_CAPACITY = 10_000_000
DEFAULT_ELEMENTS_LIMIT = 10_000_000
DEFAULT_MAX_DEPTH = 5_000
NO_LIMIT = -1


class CapacityExceeded(RuntimeError):
    """Traversal touched more elements than ``capacity``
    (HugeTraverser.checkCapacity, HugeTraverser.java:118-158)."""


@dataclass
class PropertyGraph:
    spark: SparkSession
    vertices: DataFrame
    edges: DataFrame
    schema: GraphSchema | None = None
    # typed per-label DataFrames (id + typed property columns) —
    # registered by the builder; used for property access and oracles.
    vertex_views: dict[str, DataFrame] = field(default_factory=dict)
    edge_views: dict[str, DataFrame] = field(default_factory=dict)

    def __post_init__(self) -> None:
        # Standing TTL filter (HugeElement.java:149-165: expired
        # elements are invisible at read time).
        self.vertices = _live(self.vertices)
        self.edges = _live(self.edges)

    # -- state derived from the graph --------------------------------
    def derived(self, key, build):
        """``build()``'s value, memoized on the graph under ``key``.

        One memo owns everything computed from the graph's tables (the
        order-preserving vertex index, the RAM tier's adjacency
        arrays and edge count). An entry holds the ``vertices`` and
        ``edges`` objects it was built from and is valid only while
        both attributes are still those same objects — every write
        surface (REST, Gremlin, Cypher, mutate) rebinds them, so the
        next read rebuilds. The check is identity against the held
        references, never ``id()``: a freed DataFrame's id can be
        reused by a later one. Checkpoints in a value are taken off
        the session's scratch list, so ``free_scratch`` between
        queries leaves graph-owned state intact; a replaced entry's
        blocks are left to the JVM cleaner, since a lazy result of an
        earlier call may still read them."""
        memo = self.__dict__.setdefault("_derived", {})
        hit = memo.get(key)
        if hit and hit[0] is self.vertices and hit[1] is self.edges:
            return hit[2]
        value = build()
        for part in value if isinstance(value, tuple) else (value,):
            jrdd = getattr(part, "_ckpt_jrdd", None)
            if jrdd is not None:
                _SCRATCH[:] = [j for j in _SCRATCH if j is not jrdd]
        memo[key] = (self.vertices, self.edges, value)
        return value

    # -- adjacency ---------------------------------------------------
    def adj(self, direction: str = OUT,
            labels: list[str] | None = None) -> DataFrame:
        """Adjacency view (src, dst, label, sort_values, dir).

        ``src`` is always the anchor vertex of the expansion; for IN
        the physical edge is flipped. Mirrors dual-row OUT/IN storage.
        """
        e = self.edges.select("src", "dst", "label", "sort_values")
        if labels:
            e = e.filter(F.col("label").isin(labels))
        out = e.withColumn("dir", F.lit("OUT"))
        inn = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                       "label", "sort_values").withColumn("dir", F.lit("IN"))
        if direction == OUT:
            return out
        if direction == IN:
            return inn
        return out.unionByName(inn)

    # -- degrees -----------------------------------------------------
    def degrees(self, direction: str = BOTH,
                labels: list[str] | None = None) -> DataFrame:
        """(id, degree) — DegreeCentralityAlgorithm.java semantics:
        map-side partial aggregation, one shuffle on id."""
        return (self.adj(direction, labels)
                .groupBy(F.col("src").alias("id"))
                .agg(F.count(F.lit(1)).alias("degree")))

    # -- element access ----------------------------------------------
    def vertices_by_ids(self, ids: list[str]) -> DataFrame:
        """Id point-lookup (IdQuery, GraphTransaction.java:774-811).
        isin compiles to a pushed-down Parquet IN filter."""
        return self.vertices.filter(F.col("id").isin(ids))

    def edges_by_ids(self, ids: list[tuple]) -> DataFrame:
        """Bulk edge fetch by EdgeId quadruple (src, label,
        sort_values, dst) — the reference's edge identity encoding
        owner > label > sort-values > other
        (core/backend/id/EdgeId.java:31-58; EdgesAPI GET ?ids=).
        The concat key compiles to one pushed-down IN filter."""
        key = F.concat_ws(">", F.col("src"), F.col("label"),
                          F.col("sort_values"), F.col("dst"))
        return self.edges.filter(key.isin([">".join(t) for t in ids]))

    def register_views(self, prefix: str = "g_") -> list[str]:
        """The declarative (SQL) entry point — SURVEY §3.3: the
        reference's Cypher surface is a translation layer over its
        graph; ours is Spark SQL over registered views. Creates temp
        views `{prefix}vertices`, `{prefix}edges`, `{prefix}adj`
        (both-direction adjacency) and one typed view per label, so a
        Cypher pattern like (c:customer)-[:placed]->(o:order) is a
        join over `{prefix}customer` / `{prefix}placed`. Returns the
        view names."""
        names = []
        for name, df in {"vertices": self.vertices, "edges": self.edges,
                         "adj": self.adj(BOTH),
                         **self.vertex_views, **self.edge_views}.items():
            df.createOrReplaceTempView(prefix + name)
            names.append(prefix + name)
        return names

    def vertices_by_label(self, label: str) -> DataFrame:
        return self.vertices.filter(F.col("label") == label)

    def refresh_vertex_views(self, labels: set[str] | None = None) -> None:
        """Re-derive typed per-label views from the canonical vertex
        table after a write (lazy — costs nothing until read). Used by
        every mutating surface (Cypher writes, Gremlin addV/property/
        drop, the REST mutate doors)."""
        sch = self.schema
        if labels is None:
            labels = set(self.vertex_views) | set(
                sch.vertex_labels if sch else ())
        for lab in labels:
            vl = sch.vertex_labels.get(lab) if sch else None
            if vl is None or not vl.properties:
                self.vertex_views.pop(lab, None)
                continue
            pks = sch.property_keys

            def typed(k: str):
                pk = pks.get(k)
                if pk is None:
                    return F.col("props")[k].alias(k)
                st = pk.spark_type()
                from pyspark.sql.types import ArrayType
                if isinstance(st, ArrayType):
                    # LIST/SET cardinality is stored comma-joined in
                    # the canonical string map (the mutate layer's
                    # LIST-aggregate convention) — split back out
                    return F.split(F.col("props")[k], ",") \
                        .cast(st).alias(k)
                return F.col("props")[k].cast(st).alias(k)

            self.vertex_views[lab] = (self.vertices
                                      .filter(F.col("label") == lab)
                                      .select("id", *[typed(k) for k in
                                                      vl.properties]))

    def refresh_edge_views(self, labels: set[str] | None = None) -> None:
        """Edge twin of refresh_vertex_views: re-derive typed per-label
        edge views (src, dst, sort_values, typed props) from the
        canonical edge table after a relationship write. Lazy — a
        rebuilt view is a plan over the current edges DataFrame, no
        data moves until read."""
        sch = self.schema
        if labels is None:
            labels = set(self.edge_views) | set(
                sch.edge_labels if sch else ())
        for lab in labels:
            el = sch.edge_labels.get(lab) if sch else None
            if el is None or not el.properties:
                self.edge_views.pop(lab, None)
                continue
            pks = sch.property_keys

            def typed(k: str):
                pk = pks.get(k)
                if pk is None:
                    return F.col("props")[k].alias(k)
                st = pk.spark_type()
                from pyspark.sql.types import ArrayType
                if isinstance(st, ArrayType):
                    return F.split(F.col("props")[k], ",") \
                        .cast(st).alias(k)
                return F.col("props")[k].cast(st).alias(k)

            self.edge_views[lab] = (self.edges
                                    .filter(F.col("label") == lab)
                                    .select("src", "dst", "sort_values",
                                            *[typed(k)
                                              for k in el.properties]))

    def view(self, label: str) -> DataFrame:
        """Typed per-label view (DuckDB-comparable columns)."""
        if label in self.vertex_views:
            return self.vertex_views[label]
        if label in self.edge_views:
            return self.edge_views[label]
        raise KeyError(label)

    def create_sql_views(self, prefix: str = "") -> list[str]:
        """Register the graph as Spark SQL temp views: canonical
        `vertices` / `edges` plus typed `v_<label>` / `e_<label>` —
        the raw-SQL query surface (the reference serves the same need
        through its Gremlin/Cypher translation; here spark.sql() IS
        the engine, so views make the whole graph BI/SQL-addressable
        with zero copies — temp views are plan aliases, not data).
        Returns the registered view names."""
        names = []
        for n, df in (("vertices", self.vertices), ("edges", self.edges)):
            df.createOrReplaceTempView(prefix + n)
            names.append(prefix + n)
        for lbl, df in self.vertex_views.items():
            df.createOrReplaceTempView(f"{prefix}v_{lbl}")
            names.append(f"{prefix}v_{lbl}")
        for lbl, df in self.edge_views.items():
            df.createOrReplaceTempView(f"{prefix}e_{lbl}")
            names.append(f"{prefix}e_{lbl}")
        return names

    # -- guards (load-bearing at scale: SURVEY §7.4) -------------------
    def check_capacity(self, df: DataFrame, capacity: int,
                       precounted: int | None = None) -> int:
        """Count-checkpoint a traversal frontier; raise if it exceeds
        ``capacity``. Cheap insurance identical in spirit to
        HugeTraverser.checkCapacity. ``precounted`` reuses a count the
        caller already paid for."""
        n = df.count() if precounted is None else precounted
        if capacity != NO_LIMIT and n > capacity:
            raise CapacityExceeded(f"frontier {n} > capacity {capacity}")
        return n


def _live(df: DataFrame) -> DataFrame:
    if "expired_at" in df.columns:
        return df.filter(F.col("expired_at").isNull()
                         | (F.col("expired_at") > F.current_timestamp()))
    return df


def cap_degree(adj: DataFrame, max_degree: int,
               order_cols: tuple[str, ...] = ("label", "sort_values", "dst"),
               anchor: str = "src") -> DataFrame:
    """Truncate per-vertex fan-out to ``max_degree`` edges.

    The reference truncates in storage-iteration order
    (HugeTraverser.skipSuperNodeIfNeeded, HugeTraverser.java:210-…);
    that order is not reproducible, so we fix a deterministic one
    (label, sort_values, dst) — documented deviation (SURVEY §7.4#4).
    Implemented as a ranked window; at scale AQE skew-join plus this
    cap is the skew story (a super-node contributes ≤ max_degree rows
    downstream).
    """
    if max_degree == NO_LIMIT:
        return adj
    # 'dir' joins the tie-break when present: an adj(BOTH) view holds
    # an OUT and an IN row for reciprocal edges that are identical in
    # (label, sort_values, dst) — without it, which row survives a cap
    # landing on the tie was nondeterministic (review r06)
    cols = list(order_cols)
    if "dir" in adj.columns and "dir" not in cols:
        cols.append("dir")
    w = Window.partitionBy(anchor).orderBy(*[F.col(c) for c in cols])
    return (adj.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_degree).drop("__rn"))


def skip_super_nodes(adj: DataFrame, skip_degree: int,
                     anchor: str = "src") -> DataFrame:
    """skipDegree semantics: drop ALL edges of vertices whose degree
    exceeds ``skip_degree`` (HugeTraverser.java skipDegree contract:
    a super-node is skipped entirely, not truncated)."""
    if skip_degree == NO_LIMIT or skip_degree <= 0:
        return adj
    deg = (adj.groupBy(anchor).agg(F.count(F.lit(1)).alias("__deg"))
           .filter(F.col("__deg") > skip_degree).select(anchor))
    return adj.join(deg, on=anchor, how="left_anti")


def checkpointed(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint + STRIP the inherited size-in-bytes statistics.

    ``eager=False`` defers materialization to the caller's next FULL
    action (one that computes every partition — a whole-vector agg,
    never a limit), fusing the checkpoint job with that action: one
    job per loop round instead of two. Only use it when such an
    action immediately follows.

    Spark 4's ``Dataset.localCheckpoint`` copies the optimized plan's
    stats onto the checkpoint's LogicalRDD. In an iterative loop whose
    round joins the previous round's vector more than once, the
    size-in-bytes estimate is a *product* of the children's estimates,
    so the preserved stat roughly SQUARES every round — the BigInt's
    digit count doubles per round and by round ~20 Catalyst spends
    minutes per round in BigInteger Karatsuba multiplication inside
    SizeInBytesOnlyStatsPlanVisitor, then overflows with an
    ArithmeticException. Rebuilding the DataFrame from the
    checkpointed InternalRow RDD (no row conversion, no copy) resets
    the leaf to default stats and keeps every round's planning O(1).
    Explicit ``F.broadcast`` hints are unaffected, and AQE keeps using
    true runtime shuffle sizes."""
    d = df.localCheckpoint(eager=eager)
    spark = df.sparkSession
    try:
        jdf = d._jdf
        # the PERSISTED checkpoint RDD is the analyzed LogicalRDD's
        # own rdd — NOT queryExecution().toRdd(), which wraps it in a
        # fresh MapPartitionsRDD whose unpersist() is a silent no-op
        # (found r11: every release_ckpt/free_scratch since r07 was
        # releasing the wrapper, so dead frontier/vector blocks only
        # ever left storage via the slow JVM-GC → ContextCleaner path)
        jrdd = jdf.queryExecution().analyzed().rdd()
        jnew = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False)
        out = DataFrame(jnew, spark)
        # Track the checkpoint's storage handle: a localCheckpoint RDD
        # stays persisted until JVM GC notices the weak reference — in
        # a long session (or a 10-query benchmark) that lag piles
        # gigabytes of dead frontier/vector blocks into the executors
        # and slows every later query. Loops release the previous
        # round's vector via release_ckpt(); callers drop a finished
        # query's scratch with free_scratch(). A released checkpoint
        # CANNOT be recomputed (lineage truncated) — the call sites'
        # provably-dead discipline is load-bearing, test-pinned in
        # tests/test_stream_scratch.py and the algorithm suites.
        out._ckpt_jrdd = jrdd
        _SCRATCH.append(jrdd)
        return out
    except Exception:
        # internalCreateDataFrame is private[sql] (public in bytecode,
        # reachable via py4j on every Spark 4.x we target) — if a
        # future runtime hides it, fall back to the plain checkpoint:
        # correct, just exposed to the stats-growth pathology on very
        # deep loops.
        return d


#: java RDD handles of live operator checkpoints (one local session
#: per process — a plain list is the right registry).
_SCRATCH: list = []


def release_ckpt(df: DataFrame) -> None:
    """Free ONE checkpoint's storage (non-blocking). Only call when
    the data is provably dead: a localCheckpoint truncates lineage, so
    an unpersisted checkpoint cannot be recomputed — any still-lazy
    result that reads it would fail. Iterative loops call this on the
    round-(t-1) vector right after round t materializes."""
    jrdd = getattr(df, "_ckpt_jrdd", None)
    if jrdd is not None:
        try:
            jrdd.unpersist(False)
        except Exception:
            pass


def free_scratch(spark: SparkSession) -> None:
    """Release EVERY tracked operator checkpoint of this session.

    Call between queries (after the previous result is fully consumed
    and discarded — bench.py does this between B-queries). NOT safe
    while a lazily-derived result of an earlier operator call is still
    pending: its checkpointed intermediates lose their only copy."""
    while _SCRATCH:
        try:
            _SCRATCH.pop().unpersist(False)
        except Exception:
            pass


class GraphVariables:
    """Graph-scoped key/value scratchpad
    (core/variables/HugeVariables.java:60,242 — the `/graphs/{g}/
    variables` REST surface). The reference stores these as hidden
    vertices; here they are a JSON side file next to the graph tables
    (driver-side state — variables are tiny metadata, never data).
    In-memory when constructed without a path."""

    def __init__(self, path: str | None = None):
        self._path = path
        self._data: dict = {}
        if path is not None:
            import json
            import os
            if os.path.exists(path):
                with open(path) as f:
                    self._data = json.load(f)

    def _flush(self) -> None:
        if self._path is not None:
            import json
            with open(self._path, "w") as f:
                json.dump(self._data, f, indent=1, sort_keys=True)

    def get(self, key: str, default=None):
        return self._data.get(key, default)

    def set(self, key: str, value) -> None:
        self._data[key] = value
        self._flush()

    def remove(self, key: str) -> None:
        self._data.pop(key, None)
        self._flush()

    def all(self) -> dict:
        return dict(self._data)


@contextmanager
def no_aqe(spark):
    """Disable AQE inside a broadcast-only iterative loop (restored on
    exit). When the per-round plan's only exchanges are broadcasts,
    AQE has nothing to re-plan but still materializes every query
    stage as a synchronous wave — each round pays sequential
    stage-wave latency instead of one pipelined job. Measured on
    page_rank at sf0.1: ~20% wall-clock. Only for the broadcast
    path: past BROADCAST_VERTEX_LIMIT the rounds shuffle-join, and
    there AQE's runtime stats (skew splits, coalescing) earn their
    keep."""
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def iterate_hygiene(df: DataFrame, round_no: int) -> DataFrame:
    """Cut lineage after every round of an iterative loop (round 0 is
    the seed and is left alone) — without this, k-round join loops
    build O(k)-deep plans that blow up Catalyst analysis time and
    executor stacks at scale.

    Every round (measured, round 3): in a BFS-style loop the
    round-k frontier is consumed MORE THAN ONCE downstream (next
    round's expansion broadcast + the visited/accumulator union +
    the final action), and Spark re-executes the un-materialized
    subplan at every consumption — recompute multiplies per round.
    An eager per-round checkpoint materializes each frontier exactly
    once; the per-round materialization is frontier-sized (bounded by
    the reference's capacity guard) while the recompute it removes is
    O(rounds × full-plan). Halved BFS wall-clock at sf0.1."""
    if round_no > 0:
        return checkpointed(df)
    return df


def balanced(df: DataFrame, *keys: str,
             partitions: int | None = None) -> DataFrame:
    """Hash-repartition by ``keys`` before checkpointing a table an
    iterative loop will join against every round. A localCheckpoint
    inherits upstream partitioning — for the adj union view that's the
    raw file splits (one fat lineitem partition next to tiny dims),
    and every round of the loop pays that straggler. One shuffle here
    buys balanced map sides for all k rounds."""
    if partitions is None:
        try:
            partitions = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            # vendor runtimes set this conf to "auto" under AQE
            partitions = df.sparkSession.sparkContext.defaultParallelism
    n = partitions
    return df.repartition(n, *keys) if keys else df.repartition(n)


#: Per-partition input-byte target for spread_small_input (guide §6's
#: default split size). Overridable for kernels whose per-byte CPU
#: cost is far from a scan's (env SPARK_GRAFT_SPREAD_TARGET_BYTES).
SPREAD_TARGET_BYTES = 128 * 1024 * 1024


def _plan_has_shuffle(df: DataFrame) -> bool:
    """True when the (un-executed) physical plan already contains a
    shuffle exchange. Probes the plan TREE for ShuffleExchangeLike
    nodes (advice r10: the old string regex breaks silently if a
    Spark release renames the rendered node); under AQE
    ``executedPlan`` is the un-executed AdaptiveSparkPlanExec — a
    LEAF node wrapping the initial plan, so the walk descends through
    its ``inputPlan``. Falls back to the r10 string probe if the
    internals move."""
    try:
        jvm = df.sparkSession._jvm
        shuffle_cls = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.execution.exchange.ShuffleExchangeLike")
        adaptive_cls = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec")

        def walk(node) -> bool:
            if shuffle_cls.isInstance(node):
                return True
            if adaptive_cls.isInstance(node):
                # initialPlan = after EnsureRequirements (exchanges
                # present, nothing executed); inputPlan would MISS
                # the inserted exchanges
                return walk(node.initialPlan())
            ch = node.children()
            return any(walk(ch.apply(i)) for i in range(ch.size()))

        return walk(df._jdf.queryExecution().executedPlan())
    except Exception:
        import re
        plan = df._jdf.queryExecution().executedPlan().toString()
        return bool(re.search(
            r"(?<!Broadcast)(?<!Reused)Exchange\s|ShuffleQueryStage", plan))


def spread_small_input(df: DataFrame,
                       target_bytes: int | None = None) -> DataFrame:
    """Parallelism guard for kernels whose first pass is CPU-heavy
    (minhash signatures, codec render+decode): a mid-sized corpus can
    arrive as fewer parquet splits than the session has slots,
    serializing that pass on a few cores. Spread it with one
    round-robin repartition, SIZED BY INPUT BYTES (r10 verdict item
    1): ``ceil(scan_bytes / target_bytes)`` partitions, capped at the
    session's slots — never a blanket ``defaultParallelism`` fan-out,
    which at bench scale put 32 concurrent explode/agg tasks on one
    shared local-mode heap (a guide-§5 memory hazard: the r10 driver
    record read x_minhash_lsh at 36-47 s vs the unspread 8 s,
    consistently across reps) and at any scale shuffles the whole
    corpus for parallelism the data doesn't pay for. Sub-target
    inputs (the sf fixtures: 0.5 MB) are returned untouched — the
    single-split pass IS the right plan for them; at real scale the
    input already has more splits than the cap and this is again the
    identity. Results are unchanged either way (the kernels are
    per-row deterministic).

    SHUFFLE-derived inputs are returned untouched (review r10): the
    partition-count probe is ``df.rdd``, and under AQE that eagerly
    materializes every upstream query stage — real jobs whose work
    the actual pipeline then re-runs. A plan that already contains a
    shuffle Exchange has shuffle-sized partitioning anyway, so the
    guard has nothing to fix there. BroadcastExchange does NOT trip
    the skip (review r10 second wave: a scan semi-joined against a
    broadcast id-list still has single-split partitioning — exactly
    what the spread exists to fix; the probe's pre-execution of the
    broadcast build is a small job over the SMALL side, re-run cheap).
    The size estimate is the optimized logical plan's sizeInBytes —
    for a scan pipeline that is the file footprint; it is an
    ESTIMATE (post-filter selectivity is not modeled), which only
    moves the split count, never correctness."""
    if _plan_has_shuffle(df):
        return df
    if target_bytes is None:
        import os
        try:
            target_bytes = int(os.environ.get(
                "SPARK_GRAFT_SPREAD_TARGET_BYTES", SPREAD_TARGET_BYTES))
        except (TypeError, ValueError):
            target_bytes = SPREAD_TARGET_BYTES
    try:
        size = int(str(df._jdf.queryExecution().optimizedPlan()
                       .stats().sizeInBytes()))
    except Exception:
        return df  # unknown size: leave the plan to Catalyst
    sc = df.sparkSession.sparkContext
    cap = int(sc.defaultParallelism)
    want = min(cap, -(-size // max(1, target_bytes)))
    if want <= 1 or df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)


def is_in(col: Column | str, values: list) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return col.isin(values)
