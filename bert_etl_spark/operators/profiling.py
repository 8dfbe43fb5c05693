"""Data-quality profiling and mergeable-sketch operators.

The reference can only inspect payloads item-by-item inside its per-record
Python loop (`bert/queues.py:61-93`); any corpus-level statistic requires
driver-side dict state. Here profiling is one declarative pass the engine
parallelizes, and cardinality sketches are *mergeable* — each executor
builds a partial sketch and the exchange carries sketch bytes, not rows,
which is what makes a 100 TB distinct-count tractable.

Scale notes:
- ``profile_columns``: ONE scan computes null counts, min/max, and distinct
  counts for every profiled column; multi-column exact distinct goes
  through Spark's Expand (one shuffle, rows x columns) — at 100 TB you
  would flip the exact count_distinct to approx_count_distinct/HLL and the
  plan collapses to a single partial-agg pass. The unpivot to one row per
  column happens after aggregation (5 rows, free).
- ``sketch_hll_partitioned_union``: per-source HLL sketches unioned into a
  global estimate — the canonical two-level sketch rollup. Sketch size is
  O(2^lgK) bytes regardless of input rows, so the shuffle payload is
  constant per group. DuckDB's approx_distinct uses a different HLL
  implementation, so the oracle checks bounded-error FLAGS (estimate
  within the configured relative-error band of the exact count) rather
  than raw estimates — the query is fully oracle-green; the unit test
  additionally bounds the numeric error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bert_etl_spark.functions.deterministic import sql_dsum
from bert_etl_spark.operators.registry import (
    ALL_ORACLES,
    checkpoint_result,
    query,
    spread,
    tbl,
)

PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_linestatus", "l_shipdate")


def _profile_oracle() -> str:
    parts = [
        f"""
        SELECT '{c}' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_value,
               CAST(MAX({c}) AS VARCHAR) AS max_value
        FROM lineitem
        """
        for c in PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


# One-pass table profiling: the "describe my table" primitive every data
# pipeline runs before training. All statistics for all columns come from
# a single scan (one wide aggregate + post-agg unpivot); the oracle's
# UNION-ALL-of-scalar-selects form is the semantic spec, not the plan.
@query("profile_columns", oracle=_profile_oracle())
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the Expand multiplies rows x6 BEFORE the first exchange, so
    # a single-split local scan would run the whole expansion on one core
    # (measured 7.1s -> 2.6s at sf0.1). At 100 TB split counts are natural.
    li = spread(tbl(spark, sf_dir, "lineitem"))
    aggs = [F.count("*").alias("n_rows")]
    for c in PROFILE_COLS:
        aggs += [
            (F.count("*") - F.count(c)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    stack_args = []
    for c in PROFILE_COLS:
        stack_args += [
            F.lit(c),
            F.col(f"{c}__nulls"),
            F.col(f"{c}__distinct"),
            F.col(f"{c}__min"),
            F.col(f"{c}__max"),
        ]
    return wide.select(
        F.stack(
            F.lit(len(PROFILE_COLS)), *stack_args
        ).alias("column_name", "n_nulls", "n_distinct", "min_value", "max_value"),
        "n_rows",
    ).select("column_name", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")


# Mergeable-sketch rollup: HLL sketch per source, then a union of SKETCHES
# (not a re-scan) for the corpus-wide estimate.
def hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw per-source + unioned HLL estimates next to exact counts
    (numeric estimates are implementation-defined — unit-tested against an
    error bound in tests/test_profiling.py, not hash-compared)."""
    docs = tbl(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.hll_sketch_agg(F.col("doc_id").cast("string"), 14).alias("sketch"),
        F.count_distinct("doc_id").alias("exact_distinct"),
    )
    global_row = per_source.agg(
        F.lit("__ALL__").alias("source"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("estimated_distinct"),
        F.sum("exact_distinct").alias("exact_distinct"),
    )
    return per_source.select(
        "source",
        F.hll_sketch_estimate("sketch").alias("estimated_distinct"),
        "exact_distinct",
    ).unionByName(global_row)


# Driver-gate form: the estimate itself is engine-internal, but its error
# BOUND is not — lgK=14 gives ~0.8% relative standard error, so the 5%
# acceptance flag is deterministic for a fixed implementation and input.
# The oracle states the exact distincts and expects every flag TRUE,
# turning the sketch rollup into a hash-checkable query instead of a
# rows-only smoke test.
@query(
    "sketch_hll_partitioned_union",
    oracle="""
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS exact_distinct,
           TRUE AS est_within_5pct
    FROM documents GROUP BY source
    UNION ALL
    SELECT '__ALL__' AS source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS exact_distinct,
           TRUE AS est_within_5pct
    FROM documents
    """,
)
def sketch_hll_partitioned_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    est_ok = (
        F.abs(F.col("estimated_distinct") - F.col("exact_distinct"))
        <= F.greatest(F.lit(1.0), 0.05 * F.col("exact_distinct"))
    )
    return hll_rollup(spark, sf_dir).select(
        "source", "exact_distinct", est_ok.alias("est_within_5pct")
    )


# Mergeable quantile sketch rollup: the profiling primitive that replaces
# exact percentiles at 100 TB. approx_percentile is Spark's GK-style
# mergeable sketch — a bounded-size aggregation buffer that combines
# map-side, so the shuffle carries O(sketch) bytes per group instead of
# every value (the exact form buffers the full group). As with the HLL
# rollup above, the oracle cannot reproduce the sketch internals, so the
# hash-checked outputs are the EXACT quantiles (Spark `percentile` and
# DuckDB `quantile_cont` share the (n-1)·q linear-interpolation
# definition) plus a bounded-error acceptance flag for the sketch
# estimates — measured headroom: the sketch's worst error on this data is
# ~0.1 % of the group's value range; the flag allows 2 %. The exact
# aggregate exists only to ground the flag; a production profile at scale
# runs the sketch alone.
@query(
    "sketch_quantile_mergeable",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 6) AS exact_p25,
           ROUND(quantile_cont(value, 0.50), 6) AS exact_p50,
           ROUND(quantile_cont(value, 0.75), 6) AS exact_p75,
           TRUE AS est_within_2pct_range
    FROM events GROUP BY event_type
    """,
)
def sketch_quantile_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tbl(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.25, 0.5, 0.75))").alias("ex"),
        F.expr("approx_percentile(value, array(0.25, 0.5, 0.75), 10000)").alias(
            "ap"
        ),
        (F.max("value") - F.min("value")).alias("rng"),
    )
    tol = 0.02 * F.col("rng") + F.lit(1e-9)
    within = (
        (F.abs(F.col("ap")[0] - F.col("ex")[0]) <= tol)
        & (F.abs(F.col("ap")[1] - F.col("ex")[1]) <= tol)
        & (F.abs(F.col("ap")[2] - F.col("ex")[2]) <= tol)
    )
    return g.select(
        "event_type",
        F.round(F.col("ex")[0], 6).alias("exact_p25"),
        F.round(F.col("ex")[1], 6).alias("exact_p50"),
        F.round(F.col("ex")[2], 6).alias("exact_p75"),
        within.alias("est_within_2pct_range"),
    )


CMS_DEPTH = 4    # independent hash rows (md5 slices)
CMS_WIDTH = 1024  # counters per row
CMS_TOP_K = 20   # heavy hitters evaluated against the sketch


def _cms_bucket_spark(col, d: int):
    """Row-d CMS bucket: an 8-hex-char md5 slice → BIGINT % width. Slices
    of one 128-bit digest are independent uniform hashes (the minhash
    idiom, dedup.py), and the whole sketch is DETERMINISTIC — both engines
    compute bit-identical counters, so the estimates hash-check exactly,
    no error-tolerance flag needed."""
    return (
        F.conv(F.substring(F.md5(col), 1 + 8 * d, 8), 16, 10).cast("long")
        % CMS_WIDTH
    )


def _cms_bucket_sql(expr: str, d: int) -> str:
    return (
        f"(CAST(('0x' || substr(md5({expr}), {1 + 8 * d}, 8)) AS BIGINT) "
        f"% {CMS_WIDTH})"
    )


# Count-min-sketch heavy hitters — the streaming-friendly frequency
# primitive (boilerplate n-gram audits, hot-key detection, stop-phrase discovery)
# whose counter table is FIXED-SIZE (depth × width) and mergeable: partial
# sketches combine by cell-wise addition, so the shuffle carries
# O(depth × width) counters per partition instead of one row per distinct
# token — the same mergeability argument as the HLL and quantile sketches
# above, but with nothing opaque: deterministic md5-slice hashing means
# the DuckDB oracle rebuilds the IDENTICAL sketch and the estimates
# value-hash exactly. The registered query evaluates the sketch where it
# matters: for the exact top-K n-grams, emit exact count, CMS estimate,
# and the (always ≥ 0) overestimate — the one-sided error CMS guarantees.
# The fixture's trigram distribution is nearly FLAT (no true heavy
# hitters), so the estimates carry visible collision mass — exactly what
# the paired exact/estimate columns exist to surface; a production
# deployment sizes width ≈ e/ε against its heavy-hitter threshold and
# reads this query as the calibration check.
def cms_trigram_occurrences(docs: DataFrame) -> DataFrame:
    """Every trigram occurrence (no per-doc distinct) as (tok) rows — the
    CMS universe: boilerplate n-grams (the fixture's whitespace-token
    vocabulary is only ~31 words — zero collisions, a vacuous demo)."""
    toked = docs.select(
        F.split(F.trim(F.col("text")), " ").alias("toks")
    ).filter(F.size("toks") >= 3)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at("toks", i + 1),
            F.element_at("toks", i + 2),
            F.element_at("toks", i + 3),
        ),
    )
    return toked.select(F.explode(grams).alias("tok"))


def cms_counters(toks: DataFrame) -> DataFrame:
    """The depth × width counter table for a token stream — the sketch.
    Partial sketches merge by cell-wise ADDITION, which is exactly what a
    second groupBy-sum over unioned counter tables computes."""
    counters = None
    for d in range(CMS_DEPTH):
        part = toks.select(
            F.lit(d).alias("d"), _cms_bucket_spark(F.col("tok"), d).alias("bucket")
        )
        counters = part if counters is None else counters.unionByName(part)
    return counters.groupBy("d", "bucket").agg(F.count("*").alias("c"))


def cms_estimates(top: DataFrame, counters: DataFrame) -> DataFrame:
    """CMS estimates for (tok, n) rows: min over the D counter cells each
    token hashes into (broadcast joins — both sides are tiny)."""
    bucket_for = None
    for d in range(CMS_DEPTH):
        expr = _cms_bucket_spark(F.col("tok"), d)
        bucket_for = (
            F.when(F.col("d") == d, expr)
            if bucket_for is None
            else bucket_for.when(F.col("d") == d, expr)
        )
    est = (
        F.broadcast(top)
        .crossJoin(F.broadcast(counters.select("d").distinct()))
        .withColumn("bucket", bucket_for)
        .join(counters, ["d", "bucket"])
        .groupBy("tok", "n")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        "tok",
        F.col("n").cast("bigint").alias("exact_count"),
        F.col("cms_est").cast("bigint").alias("cms_estimate"),
        (F.col("cms_est") - F.col("n")).cast("bigint").alias("overestimate"),
    )



@query(
    "sketch_countmin_heavy_hitters",
    oracle=f"""
    WITH tk AS (
        SELECT string_split(trim(text), ' ') AS toks FROM documents
    ),
    toks AS (
        SELECT unnest(list_transform(range(len(toks) - 2),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS tok
        FROM tk WHERE len(toks) >= 3
    ),
    counters AS (
        SELECT d, bucket, COUNT(*) AS c FROM (
            {" UNION ALL ".join(
                f"SELECT {d} AS d, {_cms_bucket_sql('tok', d)} AS bucket FROM toks"
                for d in range(CMS_DEPTH)
            )}
        ) GROUP BY 1, 2
    ),
    exact AS (
        SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
    ),
    top AS (
        SELECT tok, n FROM (
            SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rn
            FROM exact
        ) WHERE rn <= {CMS_TOP_K}
    ),
    est AS (
        SELECT t.tok, t.n, MIN(c.c) AS cms_est
        FROM top t JOIN counters c
          ON c.d < {CMS_DEPTH}
         AND c.bucket = CASE c.d
             {" ".join(
                f"WHEN {d} THEN {_cms_bucket_sql('t.tok', d)}"
                for d in range(CMS_DEPTH)
             )} END
        GROUP BY 1, 2
    )
    SELECT tok, CAST(n AS BIGINT) AS exact_count,
           CAST(cms_est AS BIGINT) AS cms_estimate,
           CAST(cms_est - n AS BIGINT) AS overestimate
    FROM est
    """,
)
def sketch_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bert_etl_spark.operators.registry import persist_once

    docs = tbl(spark, sf_dir, "documents")
    # round-14 note: deliberately NOT spread — the counter union reads
    # toks D=4 times, so a 32-way spread turned the pass into 128 tiny
    # tasks and measured 1.56 -> 2.43 s; the compact layout wins here
    toks = persist_once(cms_trigram_occurrences(docs))
    counters = cms_counters(toks)
    exact = toks.groupBy("tok").agg(F.count("*").alias("n"))
    # deterministic top-K via orderBy+limit = TakeOrderedAndProject
    # (per-partition heap + driver merge — never a global window/sort)
    top = exact.orderBy(F.desc("n"), "tok").limit(CMS_TOP_K).select("tok", "n")
    return cms_estimates(top, counters)


CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


# Pairwise Pearson correlation matrix over the fact table's numeric
# columns — the profiling step that finds redundant features and
# join-key/metric dependencies before a training run. ONE corpus pass:
# every pair's (Σx, Σy, Σx², Σy², Σxy) comes from the same partial-agg
# scan (map-side combined, 14 decimal sums + a count cross the exchange
# — O(columns²) state, zero extra passes), then the closed form
# r = (nΣxy − ΣxΣy) / √((nΣx² − (Σx)²)(nΣy² − (Σy)²)) evaluates on the
# driver-sized 1-row frame. All reductions use the decimal recipe, so
# the r values are order-free and hash-identical to the oracle's — no
# tolerance window. (Spark's built-in corr() is a float reduction whose
# partial combines are partition-order-dependent; this form trades two
# extra sums per pair for reproducibility, the same trade dsum makes.)
@query(
    "profile_correlations",
    oracle=f"""
    WITH s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               {", ".join(f"{sql_dsum(c)} AS s_{c}" for c in CORR_COLS)},
               {", ".join(f"{sql_dsum(f'{c} * {c}')} AS ss_{c}" for c in CORR_COLS)},
               {", ".join(
                   f"{sql_dsum(f'{a} * {b}')} AS sp_{a}_{b}"
                   for i, a in enumerate(CORR_COLS)
                   for b in CORR_COLS[i + 1:]
               )}
        FROM lineitem
    )
    {" UNION ALL ".join(
        f"SELECT '{a}' AS col_x, '{b}' AS col_y, "
        f"ROUND((n * sp_{a}_{b} - s_{a} * s_{b}) / "
        f"sqrt((n * ss_{a} - s_{a} * s_{a}) * (n * ss_{b} - s_{b} * s_{b})), 6)"
        f" AS pearson_r FROM s"
        for i, a in enumerate(CORR_COLS)
        for b in CORR_COLS[i + 1:]
    )}
    """,
)
def profile_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bert_etl_spark.functions.deterministic import dsum
    from bert_etl_spark.operators.registry import spread_scan

    # project to the correlated columns, then spread_scan: the 14 decimal
    # co-moment sums are the per-row cost, and a single-row-group fixture
    # file otherwise serializes the whole partial-agg pass in one task
    # (4.2 s measured); at scale the scan has enough splits and this is a
    # no-op — the shuffle, when it happens, ships only the 4 columns
    li = spread_scan(
        tbl(spark, sf_dir, "lineitem").select(*CORR_COLS)
    )
    aggs = [F.count("*").cast("double").alias("n")]
    for c in CORR_COLS:
        aggs.append(dsum(F.col(c), f"s_{c}"))
        aggs.append(dsum(F.col(c) * F.col(c), f"ss_{c}"))
    pairs = [
        (a, b)
        for i, a in enumerate(CORR_COLS)
        for b in CORR_COLS[i + 1:]
    ]
    for a, b in pairs:
        aggs.append(dsum(F.col(a) * F.col(b), f"sp_{a}_{b}"))
    s = li.agg(*aggs)

    def r_expr(a: str, b: str):
        return (
            F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        ) / F.sqrt(
            (F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
            * (F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
        )

    # ONE row explodes into the matrix — a per-pair unionByName would
    # re-execute the scan+aggregate once per branch (plan test pins the
    # single scan)
    rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(a).alias("col_x"),
                    F.lit(b).alias("col_y"),
                    F.round(r_expr(a, b), 6).alias("pearson_r"),
                )
                for a, b in pairs
            ]
        )
    ).alias("x")
    return s.select(rows).select("x.col_x", "x.col_y", "x.pearson_r")


# STREAMING form of the count-min sketch — the property that makes CMS a
# streaming-native structure is that partial sketches merge EXACTLY: the
# counter table is a linear function of the input multiset, so per-batch
# sketches written independently and summed cell-wise equal the sketch of
# the whole corpus BIT-FOR-BIT (unlike GK quantiles, where mergeability
# is approximate and streaming_windowed_quantiles checks a flag). Here
# the documents stream through foreachBatch in 3 micro-batch epochs; each
# epoch writes its OWN counter table under an idempotent epoch=<id>
# overwrite (the LSH ledger's exactly-once idiom: an at-least-once replay
# rewrites its partition, never double-counts); the final estimates come
# from the cell-wise SUM of the epoch sketches and are value-hash
# IDENTICAL to the batch oracle — the strongest mergeability check the
# driver can express. At 100 TB this is the always-on corpus frequency
# monitor: O(depth × width) state per epoch regardless of corpus size.
@query(
    "streaming_countmin_merge",
    oracle=ALL_ORACLES["sketch_countmin_heavy_hitters"],
)
def streaming_countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    docs_all = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="cms_stream_")
    try:
        docs_all.repartition(3).write.mode("overwrite").parquet(f"{tmp}/in")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in")
        )

        def _process(batch_df: DataFrame, epoch_id: int) -> None:
            # round-14 note: deliberately NOT spread: each epoch holds
            # ~1/3 of the corpus and the counter union reads its input
            # D=4 times, so a 32-way spread produced 128 tiny tasks per
            # epoch and measured SLOWER (0.7 s/epoch) than the compact
            # form; the full-corpus exact pass below IS spread
            cms_counters(cms_trigram_occurrences(batch_df)).write.mode(
                "overwrite"
            ).parquet(f"{tmp}/sketch/epoch={epoch_id}")

        q = (
            stream.writeStream.foreachBatch(_process)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .queryName("cms_merge")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # cell-wise merge of the per-epoch partial sketches = the exact
        # global sketch (linearity of the counter table)
        merged = (
            spark.read.parquet(f"{tmp}/sketch")
            .groupBy("d", "bucket")
            .agg(F.sum("c").alias("c"))
        )
        toks = cms_trigram_occurrences(docs_all)
        exact = toks.groupBy("tok").agg(F.count("*").alias("n"))
        top = (
            exact.orderBy(F.desc("n"), "tok").limit(CMS_TOP_K).select("tok", "n")
        )
        return checkpoint_result(cms_estimates(top, merged))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


SKEW_TOP_KEYS = 10


# Shuffle-key skew audit — the number a skew-join decision actually
# reads BEFORE a 100 TB join: per-key row counts for the intended
# shuffle key, the hottest keys' share of the table, and each hot key's
# ratio to the mean key load (a ratio ≫ 1 on the top key says "this key
# lands one reducer with N× the average partition" — the trigger for
# salting / AQE skew-join). One partial-agg pass for the per-key counts,
# one tiny agg for the totals, TakeOrderedAndProject for the top keys —
# never a global sort. Companion to functions/skew.py's salting (which
# fixes what this measures) and join_skew_salted (which demonstrates it).
@query(
    "profile_key_skew",
    oracle=f"""
    WITH k AS (
        SELECT l_suppkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1
    ),
    t AS (
        SELECT CAST(SUM(n) AS DOUBLE) AS total,
               CAST(COUNT(*) AS DOUBLE) AS n_keys
        FROM k
    )
    SELECT key, CAST(n AS BIGINT) AS n_rows,
           ROUND(n / total, 6) AS share_of_table,
           ROUND(n / (total / n_keys), 6) AS x_mean_key
    FROM (
        SELECT key, n, ROW_NUMBER() OVER (ORDER BY n DESC, key) AS rn
        FROM k
    ) CROSS JOIN t
    WHERE rn <= {SKEW_TOP_KEYS}
    """,
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count("*").alias("n")
    )
    t = k.agg(
        F.sum("n").cast("double").alias("total"),
        F.count("*").cast("double").alias("n_keys"),
    )
    top = k.orderBy(F.desc("n"), "key").limit(SKEW_TOP_KEYS)
    return top.crossJoin(F.broadcast(t)).select(
        "key",
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(F.col("n") / F.col("total"), 6).alias("share_of_table"),
        F.round(F.col("n") / (F.col("total") / F.col("n_keys")), 6).alias(
            "x_mean_key"
        ),
    )


SALT_TARGET_PARTITIONS = 32  # the task budget the advisor sizes against


# Salt ADVISOR — the actionable output of the skew audit: for the
# intended shuffle key, which keys overflow one average task's row
# budget, and the exact salt factor that brings each back under it.
# budget = ceil(total / SALT_TARGET_PARTITIONS) (one average reducer's
# share); a key with n > budget lands a single reducer with n rows no
# matter how many partitions exist — the straggler/OOM task — and needs
# salts = ceil(n / budget) sub-keys so its worst task carries
# ceil(n / salts) <= budget rows. Integer ceil-divs only, so both engines
# agree bit-for-bit. Demonstrated on orders.o_orderpriority — the classic
# low-cardinality join key where EVERY key needs salting (5 keys, 32-way
# cluster: the advisor is how join_skew_salted's salt factor should be
# chosen instead of guessed). One partial-agg pass + one tiny agg; at
# 100 TB this is a driver-side advisory read before planning the join,
# the profile_key_skew companion (functions/skew.py fixes what it
# measures).
@query(
    "profile_salt_advisor",
    oracle=f"""
    WITH k AS (
        SELECT o_orderpriority AS key, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ),
    t AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total FROM k
    ),
    b AS (
        SELECT (total + {SALT_TARGET_PARTITIONS} - 1)
               // {SALT_TARGET_PARTITIONS} AS budget
        FROM t
    )
    SELECT key, n AS n_rows,
           CAST(budget AS BIGINT) AS task_budget,
           CAST((n + budget - 1) // budget AS BIGINT) AS recommended_salts,
           CAST((n + ((n + budget - 1) // budget) - 1)
                // ((n + budget - 1) // budget) AS BIGINT)
               AS rows_per_task_after
    FROM k CROSS JOIN b
    WHERE n > budget
    """,
)
def profile_salt_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    k = orders.groupBy(F.col("o_orderpriority").alias("key")).agg(
        F.count("*").alias("n")
    )
    b = k.agg(
        F.expr(
            f"CAST((sum(n) + {SALT_TARGET_PARTITIONS} - 1) "
            f"div {SALT_TARGET_PARTITIONS} AS BIGINT)"
        ).alias("budget")
    )
    salts = F.expr("(n + budget - 1) div budget")
    return (
        k.crossJoin(F.broadcast(b))
        .filter(F.col("n") > F.col("budget"))
        .select(
            "key",
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("budget").cast("bigint").alias("task_budget"),
            salts.cast("bigint").alias("recommended_salts"),
            F.expr(
                "(n + ((n + budget - 1) div budget) - 1)"
                " div ((n + budget - 1) div budget)"
            )
            .cast("bigint")
            .alias("rows_per_task_after"),
        )
    )


# ---------------------------------------------------------------------------
# Mutual information between two categorical columns — the feature-
# selection/leakage-detection profiling primitive (which metadata columns
# actually carry signal about each other). MI(X;Y) = Σ_xy p(x,y) ·
# ln(p(x,y) / (p(x)p(y))), all probabilities exact integer counts over one
# scan: the joint contingency table is one groupBy (cells ≪ rows cross the
# exchange after partial aggregation), the margins reduce FROM the joint
# table (no second scan), and both margins are cell-cardinality-sized →
# broadcast back onto the cells. The float total reduces in exact decimal
# (dsum) so the score is partition-order-free.
# ---------------------------------------------------------------------------

_SQL_MI_TERM = (
    "(CAST(n_xy AS DOUBLE) / n_tot) * ln((CAST(n_xy AS DOUBLE) * n_tot)"
    " / (CAST(n_x AS DOUBLE) * n_y))"
)


@query(
    "profile_mutual_information",
    oracle=f"""
    WITH joint AS (
        SELECT o_orderstatus AS x, o_orderpriority AS y, COUNT(*) AS n_xy
        FROM orders GROUP BY 1, 2
    ),
    mx AS (SELECT x, SUM(n_xy) AS n_x FROM joint GROUP BY x),
    my AS (SELECT y, SUM(n_xy) AS n_y FROM joint GROUP BY y),
    tot AS (SELECT SUM(n_xy) AS n_tot FROM joint)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           {sql_dsum(_SQL_MI_TERM)} AS mi_nats
    FROM joint JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
    """,
)
def profile_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bert_etl_spark.functions.deterministic import dsum

    joint = (
        tbl(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("x"), F.col("o_orderpriority").alias("y")
        )
        .agg(F.count("*").alias("n_xy"))
    )
    mx = joint.groupBy("x").agg(F.sum("n_xy").alias("n_x"))
    my = joint.groupBy("y").agg(F.sum("n_xy").alias("n_y"))
    tot = joint.agg(F.sum("n_xy").alias("n_tot"))
    term = (F.col("n_xy").cast("double") / F.col("n_tot")) * F.log(
        (F.col("n_xy").cast("double") * F.col("n_tot"))
        / (F.col("n_x").cast("double") * F.col("n_y"))
    )
    return (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .withColumn("term", term)
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            dsum("term", "mi_nats"),
        )
    )
