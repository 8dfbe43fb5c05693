"""Query registry: name -> (spark, sf_dir) -> DataFrame, plus DuckDB oracles.

Every operator in SURVEY.md §2B lands here as a named query. The driver runs
the Spark query and the oracle SQL side by side at sf0.01 and compares
row-count + schema + order-insensitive value hash, so:

- alias every computed column identically in both
- make float aggregates order-insensitive (see functions.deterministic)
- queries registered with ``oracle=None`` get a rows-only check (reserved for
  genuinely non-SQL-expressible ops: LSH internals, streaming state).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

ALL_QUERIES: dict[str, QueryFn] = {}
ALL_ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query, optionally with its DuckDB oracle SQL."""

    def decorator(fn: QueryFn) -> QueryFn:
        if name in ALL_QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        ALL_QUERIES[name] = fn
        if oracle is not None:
            ALL_ORACLES[name] = oracle
        return fn

    return decorator


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition before CPU-heavy per-row work.

    A small parquet file scans as ONE partition (maxPartitionBytes), which
    serializes everything up to the first exchange on one core — the local
    analog of a 100 TB table that arrives in too-few splits. An explicit
    repartition (exempt from AQE coalescing) spreads the rows across the
    cluster; the shuffled payload is just the input rows, negligible next
    to the per-row compute it unlocks (tokenize/md5/regex pipelines).
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def spread_scan(
    df: DataFrame,
    partitions: int | None = None,
    per_part_bytes: int = 16 << 20,
) -> DataFrame:
    """``spread`` ONLY when the scan cannot parallelize naturally —
    the scale-adaptive form (guide §2: derive partitioning from input
    size, never a constant tuned for one deployment).

    The test fixtures are single-file single-row-group parquet, so a
    CPU-heavy aggregation directly over the scan runs its entire
    partial-agg pass in ONE task (measured: profile_correlations spent
    4.2 s in one task on local[32]); the same query at 100 TB arrives
    in ~800k splits and must NOT pay a round-robin shuffle of the fact
    table. Decision is a driver-side listing (df.inputFiles, no job):
    enough files for the parallelism, or enough bytes that the splitter
    will parallelize (maxPartitionBytes), or anything unstattable (a
    remote store, where the 100 TB case lives) → scan untouched; only a
    provably-tiny local scan is spread."""
    import os
    from urllib.parse import unquote, urlparse

    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if len(files) >= n:
        return df
    total = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return df
        try:
            total += os.path.getsize(unquote(parsed.path))
        except OSError:
            return df
    if total >= n * per_part_bytes:
        return df
    return df.repartition(n)


# Per-query persisted internals, tracked for scoped release. Without this,
# every global-order/ntile/LSH build pins a MEMORY_AND_DISK copy for the
# session — harmless at sf0.01, a memory-pressure source in a long-lived
# service session. Callers release BETWEEN queries (bench.py does, after
# each timed action), never while a returned DataFrame might still be
# re-executed: an in-flight plan survives unpersist (Spark recomputes),
# but global-order plans rely on the cache for partition-id stability
# between their offsets and main branches.
_TRACKED: list[DataFrame] = []


def persist_once(df: DataFrame, shared: bool = False) -> DataFrame:
    """Persist unless an identical canonical plan is already cached.

    Spark's CacheManager matches by canonical plan, so a second query
    building the same subplan (e.g. the shingle table shared across the
    dedup family) would re-persist and log "Asked to cache already cached
    data". ``df.storageLevel`` consults the CacheManager, making the guard
    a cheap lookup — cross-query cache sharing keeps working, silently.

    ``shared=False`` (the default) marks the persist as a PER-QUERY
    temporary: it is registered for ``release_internals()`` and freed at
    the next between-queries release point. ``shared=True`` is reserved
    for the O(1) set of genuinely cross-query tables (the dedup family's
    shingle/jaccard-edge chain) that stay for the session — their count is
    bounded by the code, not the number of queries run.
    """
    if not df.storageLevel.useMemory and not df.storageLevel.useDisk:
        df.persist()
        if not shared:
            _TRACKED.append(df)
    return df


# Per-query RESULT materializations: the localCheckpoint a query returns
# (a streaming demo's result read off a temp dir it then deletes, an
# iterated graph loop's last generation). Dataset.unpersist cannot free
# those blocks, so without tracking they wait for the ContextCleaner to
# notice the dropped frame — a lag the JVM garbage collector decides, not
# the caller. release_internals() frees them at the same between-queries
# point as the persisted internals. Only (context, RDD id) is kept: a
# caller that never calls release_internals loses nothing to the tracking
# — the blocks still free when its frame is collected.
_TRACKED_RESULTS: list[tuple[object, int]] = []


def checkpoint_result(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint of a frame a query returns, its blocks
    released at the next ``release_internals()``."""
    out = df.localCheckpoint(eager=True)
    rdd_id = out._jdf.queryExecution().analyzed().rdd().id()
    _TRACKED_RESULTS.append((out.sparkSession.sparkContext._jsc, rdd_id))
    return out


# Session-scoped memo for the shared family tables materialized via
# localCheckpoint (see checkpoint_once). Keyed by applicationId so a new
# SparkContext never sees another context's RDD-backed DataFrames.
_SHARED_CHECKPOINTS: dict[tuple, DataFrame] = {}


def checkpoint_get(spark, *key: object) -> DataFrame | None:
    """The memoized checkpoint_once result for ``key`` in this session, or
    None. Builders whose DataFrame CONSTRUCTION is itself expensive (a
    driver-side collect, a multi-thousand-literal plan to analyze) call
    this first and skip the build entirely on a hit — checkpoint_once only
    dedups the EXECUTION, not the plan-building work before it (measured:
    sim_maxsim_ivf spent 3.8 s/call re-collecting centroids and
    re-analyzing the inlined-centroid argmax plan that the memo then
    threw away)."""
    return _SHARED_CHECKPOINTS.get((spark.sparkContext.applicationId, *key))


def checkpoint_invalidate(spark, *key: object) -> bool:
    """Drop the memoized checkpoint_once entry for ``key`` — for builders
    whose UNDERLYING at-rest table just changed (the durable edge table's
    ingest/delete/compact verbs): the next consumer re-reads the standing
    table instead of serving stale blocks. The entry is popped WITHOUT
    releasing its checkpointed RDD blocks: a localCheckpoint'd frame has
    no lineage to recompute from, so an eager release would make any
    consumer still holding the previously returned frame fail
    unrecoverably (missing checkpoint blocks) on its next action when a
    maintenance verb runs mid-session (round-12 advice, the 'low' item).
    Dropping the memo reference lets the ContextCleaner reclaim the
    blocks once every consumer reference is gone. Returns True if an
    entry existed."""
    k = (spark.sparkContext.applicationId, *key)
    return _SHARED_CHECKPOINTS.pop(k, None) is not None


def checkpoint_once(
    df: DataFrame, *key: object, respread: bool = False
) -> DataFrame:
    """Materialize a shared cross-query table via eager localCheckpoint,
    memoized per (SparkContext, key) for the session.

    This replaces ``persist_once(df, shared=True)`` for the EXPENSIVE
    family builds, because executing a plan INTO the block cache goes
    through the cached-plan path, which suppresses AQE — measured on the
    two biggest builds at the 100× replica: co-purchase edges 231 s
    persisted vs 114 s plain, df-capped shingles 116 s vs 28 s (4.2×).
    localCheckpoint executes the plan on the normal adaptive path and
    stores the RESULT blocks, so consumers read materialized rows either
    way; what changes is only how the one build per session runs.

    Trade-offs vs the CacheManager route, chosen deliberately:
    - sharing is by EXPLICIT key (one builder function per family table)
      instead of canonical-plan matching — consumers must go through the
      builder, which they already do;
    - the blocks live until the SparkContext ends (same lifetime as a
      shared persist — release_internals never touched those either);
    - plan-only contexts pay the build at construction time (eager), the
      same property the global-order adaptive probe documents.

    DURABILITY (multi-executor deployments): localCheckpoint blocks are
    executor-local, UNREPLICATED, and lineage-truncated — losing any
    executor mid-session makes every later consumer of the memoized
    table fail unrecoverably for the rest of the session (a shared
    persist could at least recompute). On local[N] (one JVM) executor
    loss and session loss are the same event, so the trade costs
    nothing; a real cluster that wants loss-tolerance sets
    ``spark.bert_etl.checkpointDir`` and gets RELIABLE checkpoints
    (written to that fault-tolerant path via sc.setCheckpointDir +
    df.checkpoint) at the price of one extra write+read per family
    build. Both paths run the build on the normal adaptive route — the
    AQE-suppression measurement above is about the cached-plan path,
    which neither uses.
    """
    sc = df.sparkSession.sparkContext
    app_id = sc.applicationId
    # prune memos from stopped SparkContexts: a long-lived process cycling
    # sessions would otherwise accumulate stale DataFrame refs forever
    for stale in [k for k in _SHARED_CHECKPOINTS if k[0] != app_id]:
        del _SHARED_CHECKPOINTS[stale]
    k = (app_id, *key)
    hit = _SHARED_CHECKPOINTS.get(k)
    if hit is not None:
        return hit
    reliable_dir = df.sparkSession.conf.get(
        "spark.bert_etl.checkpointDir", None
    )
    # Materialize under the STOCK AQE coalescing floor (1m), not the
    # session's CPU-density floor (64k, session.py): the checkpoint
    # freezes its build's final partition count for every later
    # consumer, and a floor tuned to give CPU-dense stages more tasks
    # would freeze MORE, smaller partitions into these byte-dense family
    # tables — measured round-14 as +0.3-0.5 s on every warm graph and
    # shingle consumer (tiny-task stage overhead on each probe).
    # Consumers that DO want a wide layout opt in via respread below.
    _minp = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    conf = df.sparkSession.conf
    prev = conf.get(_minp, None)
    conf.set(_minp, "1m")
    try:
        if reliable_dir:
            sc.setCheckpointDir(reliable_dir)
            out = df.checkpoint(eager=True)
        else:
            out = df.localCheckpoint(eager=True)
    finally:
        if prev is None:
            conf.unset(_minp)
        else:
            conf.set(_minp, prev)
    # respread (opt-in): the checkpoint FREEZES whatever partition count
    # AQE's coalescing picked for the build — sized by shuffle BYTES,
    # which for a CPU-dense table lands at 1-4 partitions at test scale
    # and serializes every consumer's map pass on one or two cores
    # (measured: dedup_allpairs_prefix ran its whole verify pipeline in
    # 2 tasks, 6.2 s; with respread, 5.2 s). Respread once, at build
    # time: one round-robin pass over the just-materialized blocks,
    # re-checkpointed, so consumers read a parallel layout with no
    # per-consumer exchange and no plan-shape change. OPT-IN because the
    # opposite effect is real too: consumers whose per-row work is cheap
    # (warm shingle probes, wedge joins) measured 0.4-0.6 s SLOWER from
    # 32-tiny-task scheduling overhead — only callers whose consumers do
    # heavy per-row compute ask for it. At scale the table already has
    # >= defaultParallelism partitions and the branch never runs
    # (guide §2: derive partitioning from the data, not the deployment).
    if respread:
        n = sc.defaultParallelism
        if out.rdd.getNumPartitions() < n:
            wide = out.repartition(n)
            if reliable_dir:
                out = wide.checkpoint(eager=True)
            else:
                out = wide.localCheckpoint(eager=True)
    _SHARED_CHECKPOINTS[k] = out
    return out


def release_shared_checkpoints() -> int:
    """Drop every memoized ``checkpoint_once`` family table; returns how
    many entries were dropped. For timing harnesses ONLY (bench.py clears
    between its two timed passes so pass 2 times the family BUILDS cold —
    min-of-2 then measures two honest builds instead of one build and one
    warm reuse, the round-14 verdict's "warm-builder artifact").

    Entries are popped WITHOUT eagerly unpersisting their checkpointed
    RDD blocks, for the same reason checkpoint_invalidate doesn't: a
    consumer frame returned to a caller may still reference the blocks,
    and a lineage-truncated frame cannot recompute. Dropping the memo
    reference lets the ContextCleaner reclaim the blocks once every
    consumer reference is gone; the next builder call re-materializes."""
    n = len(_SHARED_CHECKPOINTS)
    _SHARED_CHECKPOINTS.clear()
    return n


def release_internals() -> int:
    """Unpersist every tracked per-query internal; returns how many.

    Safe to call between queries in any harness (bench, tests, a service
    loop). Already-unpersisted entries (operators with their own lifecycle,
    e.g. connected_components' iteration state) no-op.
    """
    n = 0
    for df in _TRACKED:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    _TRACKED.clear()
    for jsc, rdd_id in _TRACKED_RESULTS:
        try:
            rdd = jsc.getPersistentRDDs().get(rdd_id)
            if rdd is not None:
                rdd.unpersist(False)
                n += 1
        except Exception:  # the context has stopped: nothing left to free
            pass
    _TRACKED_RESULTS.clear()
    return n


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for a named test table.

    The events table's ``ts`` column has drifted across writer/reader
    versions — TIMESTAMP(NANOS) (rejected by the vectorized reader unless
    ``nanosAsLong`` maps it to bigint), µs TIMESTAMP_NTZ (Spark 4.x default
    inference), or plain µs TIMESTAMP. Whatever arrives is normalized here
    to ONE canonical type, TIMESTAMP (LTZ) under a pinned UTC session
    timezone, so no downstream operator ever sees the physical drift.
    Nanos-as-long uses integer `div` (ns-since-epoch overflows double).
    """
    try:
        # determinism on foreign sessions (the driver builds its own):
        # timestamp semantics must match the UTC-naive DuckDB oracle
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        from pyspark.sql import functions as F

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def sqlq(spark: SparkSession, sf_dir: str, sql: str, tables: tuple[str, ...]) -> DataFrame:
    """Register the named tables as temp views and run a SQL query.

    Spark SQL text goes through the exact same Catalyst pipeline as the
    DataFrame API — this is for operators most naturally written as SQL
    (correlated subqueries, grouping sets).
    """
    for name in tables:
        tbl(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(sql)


def load_all() -> None:
    """Import every operator module (registration side effects)."""
    from bert_etl_spark.operators import (  # noqa: F401
        advanced,
        aggregations,
        corpus,
        dedup,
        joins,
        multimodal,
        profiling,
        python_surface,
        relational,
        scalars,
        similarity,
        text,
        timeseries,
        tpch_extra,
        windows,
    )
