"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (SURVEY §2B LLM-pipeline extensions; reference
pattern: the ETLState content-hash ledger, /root/reference
bert/etl/__init__.py:57-80, and the debug duplicate counter
bert/debug/factory.py:41-59).

Scale design (the part that matters at 100 TB):
- exact dedup: hash → groupBy/dropDuplicates. One shuffle on the digest;
  partial aggregation dedups map-side first.
- MinHash: signatures are k independent MIN aggregates computed in a SINGLE
  pass over the shingle table (no k× row blowup), then banded; candidate
  generation is an equi-join on (band, band_hash) — the quadratic term only
  materializes within a bucket. Deterministic md5-based hash family, so the
  result is engine-independent (and DuckDB-oracle-checkable).
- SimHash: 64-bit signature from xxhash64 token hashes; Hamming-≤t candidate
  search via 4×16-bit band blocking (pigeonhole: any pair within Hamming 3 of
  each other shares at least one exact band).
- Jaccard verification: inverted shingle index self-join grouped by pair —
  never an all-pairs cross join.
- embedding near-dup: blocked by a cheap key (label here; any coarse quantizer
  in production) so the pairwise cosine is O(n²/k) per block.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bert_etl_spark.operators.registry import (
    checkpoint_once,
    checkpoint_result,
    persist_once,
    query,
    spread,
    tbl,
)

N_MINHASHES = 8
BAND_ROWS = 2  # minhashes per band → 4 bands
JACCARD_THRESHOLD = 0.5
# Document-frequency cap for the inverted-index Jaccard join: a shingle
# appearing in d documents contributes d(d-1)/2 candidate rows, so one
# stop-word shingle at corpus scale makes the join quadratic. Shingles with
# df > MAX_SHINGLE_DF carry ~no similarity signal (they're corpus-wide
# boilerplate) and are dropped from the pair representation — bounding
# per-shingle join fan-out at MAX_SHINGLE_DF² and total candidates at
# Σ_shingle min(df, K)². The cap is far above any df in the test corpora,
# so small-SF results are unchanged; at 100 TB it is the difference between
# a bounded join and a runaway one.
MAX_SHINGLE_DF = 1000
# the synthetic embeddings carry no planted near-dups (max within-label
# cosine ≈ 0.5) — 0.4 keeps the operator's output non-empty at every SF
COSINE_THRESHOLD = 0.4


# ---------------------------------------------------------------------------
# library functions (reusable beyond the registered queries)
# ---------------------------------------------------------------------------


def tokenize(text: Column) -> Column:
    return F.split(F.trim(text), " ")


def shingles_df(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct n-gram token shingles per document: (id, shingle).

    The token array is materialized in its own projection BEFORE the lambda:
    Catalyst does not common-subexpression-eliminate inside higher-order-
    function lambdas, so referencing ``split(text)`` directly there re-runs
    the tokenizer per element (measured ~3× slower end-to-end).
    """
    toked = spread(docs).select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= n)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - n),
        lambda i: F.array_join(F.slice("toks", i + 1, n), " "),
    )
    return toked.select("doc_id", F.explode(grams).alias("shingle")).distinct()


def minhash_signatures(sh: DataFrame, k: int = N_MINHASHES) -> DataFrame:
    """k MIN-aggregates in one pass: (doc_id, m0..m{k-1}).

    Hash family: ONE md5 per shingle, sliced into k 16-bit hex chunks — the
    chunks of a 128-bit digest are independent uniform hashes, so this is a
    k-fold cheaper equivalent of k seeded hashes (and equally deterministic
    across engines — no seeded RNG anywhere). MIN over the hex chunk is the
    minhash; 16 bits is plenty for banding since verification recomputes the
    exact Jaccard anyway.
    """
    assert k * 4 <= 32, "md5 yields 32 hex chars → at most 8 16-bit chunks"
    digest = F.md5(F.col("shingle"))
    hashed = sh.select("doc_id", digest.alias("h"))
    aggs = [
        F.min(F.substring(F.col("h"), 4 * s + 1, 4)).alias(f"m{s}") for s in range(k)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_bands(sig: DataFrame, k: int = N_MINHASHES, r: int = BAND_ROWS) -> DataFrame:
    """Split the signature into k/r bands; band hash = md5 of the sorted
    minhashes in the band. Output: (doc_id, band, h).

    Emitted as one explode over an inline array — a k/r-way union of
    re-scans produces a much larger plan (slower to optimize and to run)
    for the same rows.
    """
    entries = []
    for b in range(k // r):
        cols = [F.col(f"m{b * r + i}") for i in range(r)]
        # sorted so the band hash is a set digest (order-free)
        h = F.md5(F.concat(F.least(*cols), F.greatest(*cols))) if r == 2 else F.md5(
            F.concat_ws(",", F.array_sort(F.array(*cols)))
        )
        entries.append(F.struct(F.lit(b).alias("band"), h.alias("h")))
    return sig.select("doc_id", F.explode(F.array(*entries)).alias("bh")).select(
        "doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h")
    )


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """Equi-join on (band, h): pairs sharing at least one band bucket."""
    a = bands.select(F.col("doc_id").alias("doc_i"), "band", "h")
    b = bands.select(F.col("doc_id").alias("doc_j"), "band", "h")
    return (
        a.join(b, ["band", "h"])
        .filter(F.col("doc_i") < F.col("doc_j"))
        .select("doc_i", "doc_j")
        .distinct()
    )


def df_cap_shingles(sh: DataFrame, max_doc_freq: int = MAX_SHINGLE_DF) -> DataFrame:
    """Drop shingles whose document frequency exceeds the cap.

    The hot set is tiny by construction (few distinct shingles can exceed
    the cap), so the pruning anti-join broadcasts — one cheap partial-agg
    pass over the postings, no extra shuffle of the shingle table.
    """
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def family_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup family's ONE shared representation: the df-CAPPED shingle
    table over the documents corpus, materialized once per session.

    Every family member (jaccard, containment, minhash signatures AND
    their verification, clustering, the banding curve) consumes this same
    capped table, so the cap's hot-shingle aggregation runs once per
    session instead of once per consumer — previously each query re-ran
    the full-postings df pass, a measured cross-round creep
    (dedup_ngram_jaccard 2.97→3.33 s, dedup_containment 2.3→3.42 s).

    Round 8 switched the materialization from persist_once(shared=True)
    to checkpoint_once: building INTO the block cache runs on the
    AQE-suppressed cached-plan path and measured 116 s vs 28 s plain at
    the 100× replica (registry.checkpoint_once has the full story). The
    raw shingle table is no longer persisted at all — the capped build
    reads it twice (hot aggregate + anti-join probe), and recomputing the
    narrow tokenize/posexplode pipeline twice inside one fast plain
    execution beats materializing it through the slow cached path.
    """
    raw = shingles_df(tbl(spark, sf_dir, "documents"))
    return checkpoint_once(df_cap_shingles(raw), "family_shingles", sf_dir)


def family_jac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The family's shared near-duplicate pair table: exact Jaccard over
    the capped shingles, THRESHOLD-FILTERED, one inverted-index join per
    session — consumed by dedup_ngram_jaccard, dedup_cluster_components
    and dedup_corpus_canonical (all of which want only pairs ≥
    JACCARD_THRESHOLD).

    The filter sits BEFORE materialization on purpose, and it is the
    single biggest lever in the family at scale: at the 100× replica the
    candidate join emits 210.6 M scored pairs of which 25.6 k survive
    the threshold — materializing the full table (either via persist,
    as the pre-round-8 code did to enable CacheManager subplan sharing,
    or via checkpoint) writes and re-reads four orders of magnitude more
    rows than any consumer ever uses. The join's CPU cost is unchanged
    (every candidate still gets scored inside the same stage); only the
    stored/rescanned footprint drops. Replaces canonical-plan cache
    matching with an explicit builder (registry.checkpoint_once)."""
    return checkpoint_once(
        pair_jaccard(family_shingles(spark, sf_dir), max_doc_freq=None)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD),
        "family_jac_thresholded",
        sf_dir,
    )


def pair_jaccard(sh: DataFrame, max_doc_freq: int | None = MAX_SHINGLE_DF) -> DataFrame:
    """Exact Jaccard for every pair sharing ≥1 shingle (inverted index join).
    Output: (doc_i, doc_j, jaccard).

    Hot-shingle guard: shingles with document frequency > ``max_doc_freq``
    are dropped from the representation (sizes AND intersections) before the
    self-join — the df-cap that keeps the join's fan-out bounded when a
    boilerplate shingle appears in millions of docs. Pass ``None`` when the
    input was already capped upstream (e.g. before a candidate prune, where
    an internal cap would measure df on the pruned set instead of the corpus).
    """
    if max_doc_freq is not None:
        # NOT persisted: the anti-join is map-side over the (persisted)
        # input postings, and A/B benching showed an extra cache entry here
        # slows the downstream iterative consumers (cluster components) 3×
        # — recomputing the cheap broadcast anti-join per consumer wins
        sh = df_cap_shingles(sh, max_doc_freq)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_i"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_j"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_i") < F.col("doc_j"))
        .groupBy("doc_i", "doc_j")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_i"), F.col("sz").alias("sz_i"))
    sb = sizes.select(F.col("doc_id").alias("doc_j"), F.col("sz").alias("sz_j"))
    return (
        inter.join(sa, "doc_i")
        .join(sb, "doc_j")
        .select(
            "doc_i",
            "doc_j",
            (
                F.col("n_inter").cast("double")
                / (F.col("sz_i") + F.col("sz_j") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# shared oracle CTE fragments (DuckDB)
# ---------------------------------------------------------------------------

_SQL_SHINGLES = f"""
tok AS (
    SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(len(toks) - 2),
                  i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shingle
    FROM tok WHERE len(toks) >= 3
),
-- df-cap mirror of pair_jaccard's hot-shingle guard: drop shingles whose
-- document frequency exceeds MAX_SHINGLE_DF from the pair representation
keepable AS (
    SELECT shingle FROM sh GROUP BY shingle
    HAVING COUNT(*) <= {MAX_SHINGLE_DF}
),
shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keepable USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shc GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, COUNT(*) AS n_inter
    FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jac AS (
    SELECT doc_i, doc_j,
           CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_i = sa.doc_id
    JOIN sizes sb ON doc_j = sb.doc_id
)
"""

_SQL_MINHASH = """
-- signatures over the CAPPED representation (shc, not raw sh): candidates
-- must be generated from the same shingle sets the verification step
-- measures, and boilerplate shingles above the df-cap carry no similarity
-- signal — mirrors family_shingles() on the Spark side
hashed AS (SELECT doc_id, md5(shingle) AS h FROM shc),
minh AS (
    SELECT doc_id,
           MIN(substr(h,  1, 4)) AS m0, MIN(substr(h,  5, 4)) AS m1,
           MIN(substr(h,  9, 4)) AS m2, MIN(substr(h, 13, 4)) AS m3,
           MIN(substr(h, 17, 4)) AS m4, MIN(substr(h, 21, 4)) AS m5,
           MIN(substr(h, 25, 4)) AS m6, MIN(substr(h, 29, 4)) AS m7
    FROM hashed GROUP BY doc_id
),
bands AS (
    SELECT doc_id, 0 AS band, md5(least(m0,m1) || greatest(m0,m1)) AS h FROM minh
    UNION ALL
    SELECT doc_id, 1, md5(least(m2,m3) || greatest(m2,m3)) FROM minh
    UNION ALL
    SELECT doc_id, 2, md5(least(m4,m5) || greatest(m4,m5)) FROM minh
    UNION ALL
    SELECT doc_id, 3, md5(least(m6,m7) || greatest(m6,m7)) FROM minh
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
)
"""


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT source, COUNT(*) AS n_docs,
           COUNT(DISTINCT sha256(text)) AS n_unique
    FROM documents GROUP BY source
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.sha2(F.col("text"), 256)).alias("n_unique"),
    )


# Keep-first semantics: lowest doc_id survives per content hash — the
# deterministic version of the reference's "first contain() wins" ledger.
@query(
    "dedup_exact_keep_first",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.sha2(F.col("text"), 256).alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .drop("_h")
        .select("doc_id", "n_copies")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_SHINGLES}
    SELECT doc_i, doc_j, ROUND(jaccard, 6) AS jaccard
    FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared pair table: one inverted-index join per session, also
    # consumed by dedup_cluster_components / dedup_corpus_canonical
    jac = family_jac(spark, sf_dir)
    return jac.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_i", "doc_j", F.round("jaccard", 6).alias("jaccard")
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_MINHASH}
    SELECT c.doc_i, c.doc_j, ROUND(j.jaccard, 6) AS jaccard
    FROM cand c JOIN jac j ON c.doc_i = j.doc_i AND c.doc_j = j.doc_j
    WHERE j.jaccard >= {JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The (family-shared, pre-capped) shingle table feeds four consumers
    # (signatures + both jaccard join sides + sizes) and the candidate
    # pairs feed two; without explicit reuse each consumer re-runs the
    # whole upstream lineage. persist() is the single-query form of the
    # stage materialization a production LSH pipeline does between phases.
    # Signatures run over the CAPPED representation — the same sets the
    # verification step measures (oracle mirrors via _SQL_MINHASH's shc).
    capped = family_shingles(spark, sf_dir)
    # bands is a 4-way union consumed by both sides of the candidate
    # self-join — without reuse the 8-way MIN aggregate underneath runs 8×.
    bands = persist_once(lsh_bands(minhash_signatures(capped)))
    cand = persist_once(candidate_pairs(bands))
    # verify ONLY candidate docs: semi-join the shingle table down before
    # the pairwise intersection — the pruning that makes LSH cheaper than
    # the exact inverted-index join at scale.
    cand_docs = (
        cand.select(F.col("doc_i").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_j").alias("doc_id")))
        .distinct()
    )
    # pair_jaccard consumes its input 3× (both join sides + sizes); persist
    # the pruned shingle set or each consumer re-runs the semi-join. The
    # df-cap was already applied corpus-wide by family_shingles — BEFORE
    # the candidate prune, so frequency is measured on the corpus.
    sh_cand = persist_once(
        capped.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    )
    jac = pair_jaccard(sh_cand, max_doc_freq=None)
    return (
        cand.join(jac, ["doc_i", "doc_j"])
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_i", "doc_j", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# INCREMENTAL minhash dedup: the production shape at 100 TB. A steady-state
# corpus never re-deduplicates itself — each ingest batch is checked
# against the existing index only: candidates are band collisions BETWEEN
# the new batch and the corpus (never batch×batch here, never
# corpus×corpus), so per-ingest cost is O(batch × collision rate), not
# O(corpus²). This is the LSH generalization of the reference's ETLState
# incremental ledger (bert/etl/__init__.py:57-80 contain()/contains() —
# exact-identity only); the band index plays the ledger's role for NEAR
# duplicates. At 100 TB the corpus band table is a bucketed table on
# (band, h); each ingest shuffles only its own bands to the bucket
# locations. The batch here is the deterministic doc_id % 7 == 0 slice so
# both engines agree on the split.
# ---------------------------------------------------------------------------


@query(
    "dedup_minhash_incremental",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_MINHASH},
    xcand AS (
        SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS corpus_doc
        FROM bands a JOIN bands b ON a.band = b.band AND a.h = b.h
        WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
    )
    SELECT x.new_doc, x.corpus_doc, ROUND(j.jaccard, 6) AS jaccard
    FROM xcand x JOIN jac j
      ON j.doc_i = least(x.new_doc, x.corpus_doc)
     AND j.doc_j = greatest(x.new_doc, x.corpus_doc)
    WHERE j.jaccard >= {JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    capped = family_shingles(spark, sf_dir)
    bands = persist_once(lsh_bands(minhash_signatures(capped)))
    is_new = F.col("doc_id") % 7 == 0
    batch = bands.filter(is_new).select(
        F.col("doc_id").alias("new_doc"), "band", "h"
    )
    corpus = bands.filter(~is_new).select(
        F.col("doc_id").alias("corpus_doc"), "band", "h"
    )
    cand = persist_once(
        batch.join(corpus, ["band", "h"]).select("new_doc", "corpus_doc").distinct()
    )
    cand_docs = (
        cand.select(F.col("new_doc").alias("doc_id"))
        .unionByName(cand.select(F.col("corpus_doc").alias("doc_id")))
        .distinct()
    )
    sh_cand = persist_once(
        capped.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    )
    jac = pair_jaccard(sh_cand, max_doc_freq=None)
    oriented = cand.select(
        "new_doc",
        "corpus_doc",
        F.least("new_doc", "corpus_doc").alias("doc_i"),
        F.greatest("new_doc", "corpus_doc").alias("doc_j"),
    )
    return (
        oriented.join(jac, ["doc_i", "doc_j"])
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("new_doc", "corpus_doc", F.round("jaccard", 6).alias("jaccard"))
    )


# Uncapped variant of _SQL_MINHASH for the STREAMING ledger oracle: inside
# one micro-batch the corpus-wide document frequency is unknowable, so the
# ledger signs RAW shingles — which makes signatures arrival-order-invariant
# and the streamed pair union equal to this batch candidate set exactly.
_SQL_MINHASH_UNCAPPED = _SQL_MINHASH.replace("FROM shc)", "FROM sh)")
# a reworded hashed-CTE would make the replace a silent no-op, and the
# driver check could not tell: at test SFs the cap never bites, so capped
# == uncapped there — only this check keeps the documented semantics
# (a hard raise, not assert: python -O strips asserts)
if _SQL_MINHASH_UNCAPPED == _SQL_MINHASH:
    raise ValueError("uncapped minhash oracle rewrite did not apply")


@query(
    "streaming_lsh_ledger",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_MINHASH_UNCAPPED}
    SELECT doc_i, doc_j FROM cand
    """,
)
def streaming_lsh_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A GENUINE Structured Streaming run of the LSH band ledger: the
    documents table is re-sharded into 3 files, streamed one file per
    micro-batch through streaming.events.lsh_band_ledger_stream (batch
    bands ⋈ persisted prior-band ledger + within-batch collisions, both
    epoch-idempotent), and the union of per-epoch candidate emissions is
    value-checked against the whole-corpus batch candidate set — which it
    must equal for ANY batch split, because uncapped per-doc signatures
    don't depend on arrival grouping. The engine analog of the reference's
    always-on ingest pipeline (bert/runner/manager.py:90-241) wrapped
    around its ETLState ledger (bert/etl/__init__.py:57-80)."""
    import shutil
    import tempfile

    from bert_etl_spark.streaming.events import lsh_band_ledger_stream

    tmp = tempfile.mkdtemp(prefix="lsh_ledger_")
    try:
        docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
        docs.repartition(3).write.mode("overwrite").parquet(f"{tmp}/in")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in")
        )
        q = lsh_band_ledger_stream(
            stream, f"{tmp}/ledger", f"{tmp}/out", f"{tmp}/ckpt"
        )
        q.awaitTermination()
        # materialize the result off the temp dir so it can be deleted
        # before the caller consumes the DataFrame
        return checkpoint_result(
            spark.read.parquet(f"{tmp}/out").select("doc_i", "doc_j")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# SimHash, xxhash64 throughput path: engine-specific 64-bit hashing → no
# cross-engine SQL oracle is possible, so this variant is LIBRARY-ONLY —
# deliberately NOT registered in queries(). It was the registry's one
# rows-only entry; every driver-checkable contract the pipeline has lives
# in dedup_simhash_md5 below, which runs the identical signature → banding
# → Hamming plan on a portable hash and is value-checked against an
# all-pairs SQL oracle. Exactness of THIS variant is pinned by the numpy
# oracle in tests/test_dedup.py; callers use it when xxhash64's fused JVM
# hash matters (one hash vs md5's bytes+hex round trip at 100 TB).
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    # 8 consumers (4 band self-join sides) — materialize the signatures once
    sigs = persist_once(simhash_signatures(docs))
    return simhash_near_pairs(sigs, max_hamming=3)


SIMHASH_BITS = 60  # 15 hex chars of md5 — fits signed int64 in both engines


# Portable-hash SimHash: identical algorithm, but the per-token hash is the
# top 60 bits of md5 — computable bit-identically in DuckDB ('0x'||hex →
# BIGINT cast), so the ENTIRE pipeline (token hash → per-bit vote → sign →
# 60-bit signature → banded blocking → Hamming filter) is value-checked
# against an all-pairs SQL oracle. Blocking: 4 exact 15-bit bands; any pair
# with Hamming ≤ 3 shares ≥ 1 band (pigeonhole), so the banded plan finds
# EXACTLY the oracle's all-pairs answer. xxhash64 (dedup_simhash) remains
# the throughput path — one fused JVM hash vs md5's bytes+hex round trip.
@query(
    "dedup_simhash_md5",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id,
               unnest(string_split(trim(text), ' ')) AS token
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS h
        FROM tok
    ),
    votes AS (
        SELECT doc_id, b,
               SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM h, (SELECT unnest(range({SIMHASH_BITS})) AS b) bits
        GROUP BY doc_id, b
    ),
    sig AS (
        SELECT doc_id,
               SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS sig
        FROM votes GROUP BY doc_id
    )
    SELECT doc_i, doc_j, hamming FROM (
        SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
               CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    ) WHERE hamming <= 3
    """,
)
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    summed = _simhash_votes(
        docs,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
        SIMHASH_BITS,
    )
    bits = F.transform(F.col("votes"), lambda v: F.when(v > 0, 1).otherwise(0))
    # sig = sum(bit_b << b): fold MSB-first over the reversed bit array
    sig = F.aggregate(
        F.reverse(bits), F.lit(0).cast("long"), lambda acc, x: acc * 2 + x
    )
    band = lambda i: F.aggregate(  # noqa: E731
        F.slice(bits, i * 15 + 1, 15), F.lit(0).cast("long"), lambda acc, x: acc * 2 + x
    )
    sigs = persist_once(
        summed.select(
            "doc_id", sig.alias("sig"), *[band(i).alias(f"b{i}") for i in range(4)]
        )
    )
    pairs = None
    for i in range(4):
        a = sigs.select(
            F.col("doc_id").alias("doc_i"),
            F.col(f"b{i}").alias("h"),
            F.col("sig").alias("sig_i"),
        )
        b = sigs.select(
            F.col("doc_id").alias("doc_j"),
            F.col(f"b{i}").alias("h"),
            F.col("sig").alias("sig_j"),
        )
        p = a.join(b, "h").filter(F.col("doc_i") < F.col("doc_j")).drop("h")
        pairs = p if pairs is None else pairs.unionByName(p)
    hamming = F.bit_count(F.col("sig_i").bitwiseXOR(F.col("sig_j"))).cast("long")
    # Hamming filter BEFORE the pair dedup: the dropDuplicates exchange then
    # carries only true near-pairs instead of every band-bucket candidate
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .dropDuplicates(["doc_i", "doc_j"])
        .select("doc_i", "doc_j", "hamming")
    )


def _simhash_votes(
    docs: DataFrame,
    hash_fn,
    nbits: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc SimHash vote vector: votes[b] = Σ over distinct tokens of
    (bit_b(hash(token)) ? +1 : -1). Output: (doc_id, votes array<long>).

    ONE shuffle, and it carries TOKEN SETS, not vote arrays. The former
    plan shuffled an nbits-element ±1 array per (doc, token) row — a ~64×
    payload amplification of the 8-byte hash that filled the disk with
    spill at the 100× replica (a 500k-doc corpus shuffled ~78 GB of vote
    arrays). Here ``spread()`` keeps each doc's rows in one partition, so
    the map-side partial ``collect_set`` already emits one row per doc and
    the exchange carries each token string exactly once; hashing and the
    vote fold run post-shuffle, inside codegen, on group-cardinality rows.
    ``collect_set(token)`` == DISTINCT (doc, token) — oracle semantics
    unchanged. Hashes are materialized into an array BEFORE the bit fold:
    Catalyst does not CSE inside lambdas, so referencing hash_fn(t) in the
    per-bit expression would recompute the hash nbits times per token.
    """
    toks = spread(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.col(text_col))).alias("token"),
    )
    sets = toks.groupBy("doc_id").agg(F.collect_set("token").alias("toks"))
    bits_of = lambda h: F.array(  # noqa: E731
        *[
            (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
            for b in range(nbits)
        ]
    )
    votes = F.aggregate(
        F.transform(F.col("toks"), hash_fn),
        F.array_repeat(F.lit(0).cast("long"), nbits),
        lambda acc, h: F.zip_with(acc, bits_of(h), lambda a, x: a + x),
    )
    return sets.select("doc_id", votes.alias("votes"))


def simhash_signatures(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc from distinct-token xxhash64 values.

    For each bit b: sum over tokens of (bit_b(hash) ? +1 : -1); sign → bit.
    One token-set shuffle (see _simhash_votes), vote fold post-shuffle.
    """
    summed = _simhash_votes(docs, lambda t: F.xxhash64(t), 64, text_col, id_col)
    # sign → bits; pack 4×16-bit bands for blocking plus ONE 64-bit packed
    # signature for the Hamming check. The pack uses shift/or, not
    # arithmetic: bit 63 would overflow a signed multiply-accumulate (an
    # error under ANSI mode, which the driver's vanilla sessions run).
    bits = F.transform(F.col("votes"), lambda v: F.when(v > 0, 1).otherwise(0))
    band = lambda i: F.aggregate(  # noqa: E731
        F.slice(bits, i * 16 + 1, 16), F.lit(0).cast("long"), lambda acc, x: acc * 2 + x
    )
    sig = F.aggregate(
        F.reverse(bits),
        F.lit(0).cast("long"),
        lambda acc, x: F.shiftleft(acc, 1).bitwiseOR(x.cast("long")),
    )
    return summed.select(
        "doc_id",
        *[band(i).alias(f"b{i}") for i in range(4)],
        sig.alias("sig"),
        bits.alias("bits"),
    )


def simhash_near_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs within Hamming distance via band blocking: any pair with ≤3
    differing bits shares ≥1 of the 4 exact 16-bit bands (pigeonhole).

    The join sides carry only (doc_id, band value, 64-bit packed sig) —
    NOT the 64-element bits array. Candidate volume is quadratic in the
    band-bucket sizes (378M pairs on the 100× replica), so per-pair width
    decides whether the join output is ~15 GB or ~400 GB; the bits-array
    form was the latter and filled the disk. Hamming = bit_count(sig XOR
    sig) on the packed longs, and the filter runs BEFORE dropDuplicates so
    the dedup exchange only carries true near-pairs, not all candidates.
    """
    pairs = None
    for i in range(4):
        a = sigs.select(F.col("doc_id").alias("doc_i"), F.col(f"b{i}").alias("h"), F.col("sig").alias("sig_i"))
        b = sigs.select(F.col("doc_id").alias("doc_j"), F.col(f"b{i}").alias("h"), F.col("sig").alias("sig_j"))
        p = a.join(b, "h").filter(F.col("doc_i") < F.col("doc_j")).drop("h")
        pairs = p if pairs is None else pairs.unionByName(p)
    hamming = F.bit_count(F.col("sig_i").bitwiseXOR(F.col("sig_j"))).cast("long")
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_i", "doc_j"])
        .select("doc_i", "doc_j", "hamming")
    )


def cosine_tile_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    chunk_rows: int = 2048,
) -> DataFrame:
    """All within-block pairs with cosine ≥ threshold, via 2-D tiling.

    Exact all-pairs similarity is inherently quadratic in the block size
    (at threshold 0.4 on 64-dim near-random embeddings the survivors sit
    ~3σ into the cosine noise, so no lossless geometric prune bites) — the
    engine question is only HOW the quadratic work runs. A plain
    blocked self-join materializes one shuffle row per CANDIDATE pair,
    each carrying two 64-double arrays (~1 KB): 2·10⁹ pairs ≈ 2 TB of
    exchange on the 100× replica, evaluated per-pair by interpreted
    higher-order folds — measured >45 min on local[32] before timeout.

    Here each block is hash-chunked into √-scale chunks of ≤ chunk_rows
    vectors, the (ci ≤ cj) chunk-pair TILES are enumerated as a
    metadata-scale broadcast table, each vector is replicated to its
    tiles (replication factor n/chunk — linear, not quadratic), and one
    Arrow batch per tile computes the full cosine matrix vectorized in
    numpy. Shuffled bytes drop from O(pairs) to O(n²/chunk) — ~1 GB at
    100× — and the per-pair math runs at C speed. Tasks are independent
    and bounded (chunk² cosines, ~33 MB per tile), so a 1000-executor
    cluster eats the tile grid embarrassingly parallel; the sub-quadratic
    escape hatches for genuinely unbounded corpora are the LSH/IVF paths
    (`sim_lsh_bucketed`, `sim_ivf`).

    Oracle parity: the dot and the squared norms accumulate per-DIMENSION
    in index order (64 vectorized outer-product accumulations), i.e. the
    exact float-addition order of the oracle's sequential list_aggregate
    fold — cosines stay bit-identical to DuckDB's, not merely close
    (BLAS GEMM's pairwise/SIMD summation order would not be).
    Reference parity: the reference's only near-dup surface is the
    per-item identity loop (bert/etl/__init__.py ETLState); embedding
    near-dup generalizes it to semantic identity.
    """
    to_double = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    v = emb.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(block_col).alias("_blk"),
        to_double.alias("_e"),
    )
    counts = (
        v.groupBy("_blk")
        .agg(F.count("*").alias("_n"))
        .withColumn(
            "_nc",
            F.greatest(
                F.lit(1), F.ceil(F.col("_n") / F.lit(chunk_rows))
            ).cast("int"),
        )
    )
    chunked = v.join(F.broadcast(counts.select("_blk", "_nc")), "_blk").withColumn(
        "_chunk", F.pmod(F.xxhash64("_id"), F.col("_nc")).cast("int")
    )
    tiles = counts.select(
        "_blk",
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, _nc - 1), "
                "i -> transform(sequence(i, _nc - 1), "
                "j -> struct(CAST(i AS INT) AS ci, CAST(j AS INT) AS cj))))"
            )
        ).alias("_t"),
    ).select(F.col("_blk").alias("_tblk"), F.col("_t.ci"), F.col("_t.cj"))
    lhs = chunked.join(
        F.broadcast(tiles),
        (chunked["_blk"] == tiles["_tblk"]) & (chunked["_chunk"] == tiles["ci"]),
    ).select("_blk", "ci", "cj", "_id", "_e", F.lit(0).alias("_side"))
    rhs = chunked.join(
        F.broadcast(tiles.filter(F.col("ci") != F.col("cj"))),
        (chunked["_blk"] == tiles["_tblk"]) & (chunked["_chunk"] == tiles["cj"]),
    ).select("_blk", "ci", "cj", "_id", "_e", F.lit(1).alias("_side"))
    rep = lhs.unionByName(rhs)

    th = float(threshold)

    def _tile(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vec_i": pd.Series(dtype="int64"),
                "vec_j": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        # Diagonal-ness comes from the GROUP KEY, never from side presence:
        # an off-diagonal tile whose cj chunk happens to be empty would
        # otherwise be misread as diagonal and re-emit ci's self-pairs.
        a = pdf[pdf["_side"] == 0]
        diag = int(pdf["ci"].iloc[0]) == int(pdf["cj"].iloc[0])
        b = a if diag else pdf[pdf["_side"] == 1]
        if len(a) == 0 or len(b) == 0:
            return empty
        ea = np.stack(a["_e"].to_numpy())
        eb = ea if diag else np.stack(b["_e"].to_numpy())
        na, nb = len(a), len(b)
        dot = np.zeros((na, nb))
        sq_a = np.zeros(na)
        sq_b = sq_a if diag else np.zeros(nb)
        # per-dimension accumulation == the oracle fold's addition order
        for k in range(ea.shape[1]):
            ak = ea[:, k]
            bk = ak if diag else eb[:, k]
            dot += np.multiply.outer(ak, bk)
            sq_a += ak * ak
            if not diag:
                sq_b += bk * bk
        cos = dot / np.multiply.outer(np.sqrt(sq_a), np.sqrt(sq_b))
        ii, jj = np.nonzero(cos >= th)
        if len(ii) == 0:
            return empty
        vi = a["_id"].to_numpy()[ii]
        vj = b["_id"].to_numpy()[jj]
        c = cos[ii, jj]
        if diag:
            keep = vi < vj
            vi, vj, c = vi[keep], vj[keep], c[keep]
        else:
            lo = np.minimum(vi, vj)
            vj = np.maximum(vi, vj)
            vi = lo
        return pd.DataFrame(
            {
                "vec_i": vi.astype("int64"),
                "vec_j": vj.astype("int64"),
                "cosine": c,
            }
        )

    return rep.groupBy("_blk", "ci", "cj").applyInPandas(
        _tile, "vec_i long, vec_j long, cosine double"
    )


# Embedding-cosine near-dup, blocked by label (stand-in for any coarse
# quantizer): 2-D tiled Arrow-batch cosine matrices (cosine_tile_pairs);
# per-dimension accumulation keeps cosines bit-identical to the oracle's
# sequential fold.
@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, e,
               sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS nrm
        FROM v
    )
    SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
           ROUND(list_aggregate(list_transform(range(len(a.e)),
                 i -> a.e[i+1] * b.e[i+1]), 'sum') / (a.nrm * b.nrm), 6) AS cosine
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_aggregate(list_transform(range(len(a.e)),
          i -> a.e[i+1] * b.e[i+1]), 'sum') / (a.nrm * b.nrm) >= {COSINE_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    pairs = cosine_tile_pairs(emb, COSINE_THRESHOLD)
    return pairs.select("vec_i", "vec_j", F.round("cosine", 6).alias("cosine"))


# ---------------------------------------------------------------------------
# Incremental-ingest ledger as a contract query: the reference's ETLState
# pattern (contain()/contains(), /root/reference bert/etl/__init__.py:57-80)
# — a persisted set of content hashes filters re-sent items. Here the
# "ledger" is the identity set of the already-ingested half and the
# "incoming batch" is the full table; only genuinely-new rows survive the
# LEFT ANTI join. Cross-engine portability: the join is on doc_id-derived
# rows, but the ledger itself is the sha2 canonical-JSON identity — the
# same digest both engines compute bit-identically. At 100 TB the ledger
# is a bucketed table joined on its sorted hash column.
# ---------------------------------------------------------------------------


@query(
    "dedup_ledger_increment",
    oracle="""
    WITH ledger AS (
        SELECT DISTINCT sha256(concat('{"text":"', text, '"}')) AS identity
        FROM documents WHERE doc_id % 2 = 0
    )
    SELECT d.doc_id, d.source
    FROM documents d
    LEFT JOIN ledger l
      ON sha256(concat('{"text":"', d.text, '"}')) = l.identity
    WHERE l.identity IS NULL
    """,
)
def dedup_ledger_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bert_etl_spark.functions.identity import with_identity

    docs = tbl(spark, sf_dir, "documents")
    ingested = with_identity(docs.filter(F.col("doc_id") % 2 == 0), ["text"])
    ledger = ingested.select("identity").distinct()
    incoming = with_identity(docs, ["text"])
    return incoming.join(ledger, "identity", "left_anti").select("doc_id", "source")


CONTAINMENT_THRESHOLD = 0.8


# Shingle CONTAINMENT — the asymmetric near-dup measure (|Si ∩ Sj| / |Si|):
# a short excerpt quoted inside a long document scores near 1.0 on
# containment while its Jaccard stays tiny, so excerpt/quote pairs are
# invisible to symmetric dedup. Same inverted-index join and df-cap as
# pair_jaccard (one extra projection — both direction ratios come from the
# same n_inter/size triple), so the scale profile is identical.
@query(
    "dedup_containment",
    oracle=f"""
    WITH {{shingles}}
    SELECT doc_i, doc_j,
           ROUND(CAST(n_inter AS DOUBLE) / sa.sz, 6) AS contain_i,
           ROUND(CAST(n_inter AS DOUBLE) / sb.sz, 6) AS contain_j,
           ROUND(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6)
               AS jaccard
    FROM inter
    JOIN sizes sa ON doc_i = sa.doc_id
    JOIN sizes sb ON doc_j = sb.doc_id
    WHERE GREATEST(CAST(n_inter AS DOUBLE) / sa.sz,
                   CAST(n_inter AS DOUBLE) / sb.sz) >= {CONTAINMENT_THRESHOLD}
    """.replace("{shingles}", _SQL_SHINGLES),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    capped = family_shingles(spark, sf_dir)
    sizes = capped.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = capped.select(F.col("doc_id").alias("doc_i"), "shingle")
    b = capped.select(F.col("doc_id").alias("doc_j"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_i") < F.col("doc_j"))
        .groupBy("doc_i", "doc_j")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_i"), F.col("sz").alias("sz_i"))
    sb = sizes.select(F.col("doc_id").alias("doc_j"), F.col("sz").alias("sz_j"))
    n = F.col("n_inter").cast("double")
    ci, cj = n / F.col("sz_i"), n / F.col("sz_j")
    return (
        inter.join(sa, "doc_i")
        .join(sb, "doc_j")
        .filter(F.greatest(ci, cj) >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_i",
            "doc_j",
            F.round(ci, 6).alias("contain_i"),
            F.round(cj, 6).alias("contain_j"),
            F.round(
                n / (F.col("sz_i") + F.col("sz_j") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
    )


# LSH-assisted containment — the approx sibling of dedup_containment, the
# same exact/approx pairing the similarity family ships (sim_topk_bruteforce
# vs sim_ivf, sim_maxsim_topk vs sim_maxsim_ivf). The exact form's
# inverted-index join is intrinsically Theta(sum min(df, K)^2) — measured
# ~227 s at the 100x replica with no cheap lever (SCALING.md) — so the
# scale path generates candidates from the SAME minhash banding the
# jaccard family uses (band collisions over the capped shingle table) and
# scores containment EXACTLY only on banded candidates, pruning the
# postings to candidate docs first. The semi-join keeps every shingle of a
# candidate doc, so the containment denominators |Si| are corpus-true.
#
# Documented recall trade: minhash bands are JACCARD-calibrated — a pair
# collides with probability 1-(1-s^r)^b in Jaccard s, so a short excerpt
# inside a long doc (containment ~1, Jaccard << 1) can be missed; banded
# containment finds near-dup pairs' asymmetry, not needle-in-haystack
# quotes. At the fixture SFs the planted near-dups score high on both
# measures, so the banded result equals the exact result's
# above-threshold pairs restricted to band collisions (the oracle IS that
# composition, so the contract cannot drift).
@query(
    "dedup_containment_banded",
    oracle=f"""
    WITH {_SQL_SHINGLES}, {_SQL_MINHASH}
    SELECT c.doc_i, c.doc_j,
           ROUND(CAST(n_inter AS DOUBLE) / sa.sz, 6) AS contain_i,
           ROUND(CAST(n_inter AS DOUBLE) / sb.sz, 6) AS contain_j,
           ROUND(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6)
               AS jaccard
    FROM cand c
    JOIN inter ON c.doc_i = inter.doc_i AND c.doc_j = inter.doc_j
    JOIN sizes sa ON c.doc_i = sa.doc_id
    JOIN sizes sb ON c.doc_j = sb.doc_id
    WHERE GREATEST(CAST(n_inter AS DOUBLE) / sa.sz,
                   CAST(n_inter AS DOUBLE) / sb.sz) >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    capped = family_shingles(spark, sf_dir)
    bands = persist_once(lsh_bands(minhash_signatures(capped)))
    cand = persist_once(candidate_pairs(bands))
    cand_docs = (
        cand.select(F.col("doc_i").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_j").alias("doc_id")))
        .distinct()
    )
    # prune postings to candidate docs, then anchor the intersection on
    # the candidate PAIRS themselves: pair ⋈ left-doc postings ⋈ right-doc
    # postings on (doc, shingle). Cost is O(Σ_pairs |S_i|) — proportional
    # to the banded pair list, NOT the inverted-index join's
    # Θ(Σ_shingle df²) over candidate docs (first cut of this query kept
    # the shingle-keyed self-join and measured SLOWER than the exact form
    # at 100×, 225.6 s vs 105.6 s, because band collisions cover most
    # docs there — candidate-DOC pruning is no pruning at all; only
    # candidate-PAIR anchoring is). The df-cap was applied corpus-wide by
    # family_shingles and the semi-join keeps whole docs, so sizes and
    # frequencies stay corpus-true.
    sh_cand = persist_once(
        capped.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    )
    sizes = sh_cand.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh_cand.select(F.col("doc_id").alias("doc_i"), "shingle")
    b = sh_cand.select(F.col("doc_id").alias("doc_j"), "shingle")
    inter = (
        F.broadcast(cand)
        .join(a, "doc_i")
        .join(b, ["doc_j", "shingle"])
        .groupBy("doc_i", "doc_j")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_i"), F.col("sz").alias("sz_i"))
    sb = sizes.select(F.col("doc_id").alias("doc_j"), F.col("sz").alias("sz_j"))
    n = F.col("n_inter").cast("double")
    ci, cj = n / F.col("sz_i"), n / F.col("sz_j")
    return (
        inter.join(sa, "doc_i")
        .join(sb, "doc_j")
        .filter(F.greatest(ci, cj) >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_i",
            "doc_j",
            F.round(ci, 6).alias("contain_i"),
            F.round(cj, 6).alias("contain_j"),
            F.round(
                n / (F.col("sz_i") + F.col("sz_j") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
    )


LSH_R = 2  # rows per band (8 minhashes / 4 bands)
LSH_B = 4


# LSH banding-curve introspection: for the observed pair-similarity
# distribution, the probability the current banding (b bands of r rows)
# catches each pair is p(s) = 1 - (1 - s^r)^b — this query evaluates that
# S-curve against REAL data, bucketing pairs by exact Jaccard and
# reporting how many each bucket contributes and the expected catch count.
# The index-tuning dashboard for the minhash path: if mass sits below the
# curve's knee, you need more bands (or fewer rows per band). Runs on the
# pair table (already candidate-pruned + df-capped); per-row pow() is
# transcendental, so values round to 6 dp and the expected-count
# reduction goes through the decimal recipe.
@query(
    "dedup_lsh_banding_curve",
    oracle=f"""
    WITH {{shingles}}
    SELECT CAST(FLOOR(jaccard * 10) AS INTEGER) AS sim_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(ROUND(1 - POWER(1 - POWER(jaccard, {LSH_R}), {LSH_B}), 6)),
                 6) AS avg_catch_prob,
           ROUND(CAST(SUM(CAST(
               ROUND(1 - POWER(1 - POWER(jaccard, {LSH_R}), {LSH_B}), 6)
               AS DECIMAL(25,6))) AS DOUBLE), 6) AS expected_caught
    FROM jac
    GROUP BY 1
    """.replace("{shingles}", _SQL_SHINGLES),
)
def dedup_lsh_banding_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    capped = family_shingles(spark, sf_dir)
    jac = pair_jaccard(capped, max_doc_freq=None)
    p = F.round(
        1 - F.pow(1 - F.pow(F.col("jaccard"), F.lit(float(LSH_R))), F.lit(float(LSH_B))),
        6,
    )
    return (
        jac.withColumn("p", p)
        .groupBy(F.floor(F.col("jaccard") * 10).cast("int").alias("sim_bucket"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(
                F.sum(F.col("p").cast("decimal(25,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_catch_prob"),
            F.round(
                F.sum(F.col("p").cast("decimal(25,6)")).cast("double"), 6
            ).alias("expected_caught"),
        )
    )


# ---------------------------------------------------------------------------
# exact substring dedup (duplicated k-token windows → maximal per-doc spans)
# ---------------------------------------------------------------------------

# Window width for exact substring dedup (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better", uses 50 BPE tokens on web
# corpora; 8 fits the 10-99-token synthetic docs while exercising the same
# machinery). A window is "duplicated" when its exact k-token text occurs
# MORE THAN ONCE anywhere in the corpus — including a second position inside
# the same document, matching the paper's suffix-array criterion.
SUBSTR_K = 8


def window_hashes(docs: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """Every k-token window per document: (doc_id, pos, h).

    ``pos`` is the 0-based token offset; ``h`` the md5 of the window's text.
    Narrow transformation — tokenize, per-row transform, posexplode — zero
    shuffles; the md5 runs JVM-side inside whole-stage codegen. This is the
    distributed stand-in for the paper's suffix array: a suffix array finds
    duplicated substrings of ANY length in O(n log n) but is inherently
    sequential to build; fixed-k window hashing finds every duplicated run
    of >= k tokens (any such run contains a duplicated k-window at each
    offset, so span-merging recovers it) with nothing but one partial-agg
    shuffle — the shape that survives 100 TB.
    """
    toked = spread(docs).select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= k)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - k),
        lambda i: F.md5(F.array_join(F.slice("toks", i + 1, k), " ")),
    )
    return toked.select("doc_id", F.posexplode(grams).alias("pos", "h"))


def duplicated_spans(win: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """Merge duplicated k-windows into maximal per-doc spans.

    Shape: (1) one fixed-width-key shuffle with map-side partial agg finds
    hashes occurring >1 time corpus-wide (a mega-hot boilerplate window is
    just a large partial count — no row fan-out anywhere, the semi-join
    keeps each (doc, pos) at most once); (2) a per-doc window does the
    gaps-and-islands merge: two duplicated windows [p, p+k-1] and [q, ...]
    with q <= p + k overlap or touch, so their coverage is contiguous and
    they fuse — every token in an output span is covered by some duplicated
    window. Positions within a doc are distinct and sorted, so the running
    max end IS the previous row's end and a LAG test suffices.
    """
    dup = win.groupBy("h").agg(F.count("*").alias("n")).filter(F.col("n") > 1)
    dw = win.join(dup.select("h"), "h", "left_semi")
    return merge_window_spans(dw, k)


def merge_window_spans(dw: DataFrame, k: int = SUBSTR_K) -> DataFrame:
    """Gaps-and-islands merge of (doc_id, pos) k-window hits into maximal
    spans: (doc_id, span_start, span_end, span_tokens, n_windows)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    brk = F.when(prev.isNull() | (F.col("pos") > prev + k), 1).otherwise(0)
    return (
        dw.select("doc_id", "pos")
        .withColumn("brk", brk)
        .withColumn("g", F.sum("brk").over(w))
        .groupBy("doc_id", "g")
        .agg(
            # long, matching the oracle's BIGINT positions
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k - 1).cast("long").alias("span_end"),
            (F.max("pos") + k - F.min("pos")).cast("long").alias("span_tokens"),
            F.count("*").alias("n_windows"),
        )
        .drop("g")
    )


def cut_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Cut every span out of every document's token sequence.

    Output: (doc_id, clean_text, n_tokens_kept), dropping documents left
    with zero tokens. Scale shape: spans group per doc (collect_list is
    bounded at n_tokens/k entries), one equi join back to the corpus, and
    the cut is a higher-order filter over the token array — JVM-side, zero
    explode, zero extra shuffle.
    """
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    toked = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    joined = toked.join(per_doc, "doc_id", "left").withColumn(
        "spans", F.coalesce(F.col("spans"), F.array())
    )
    kept = F.filter(
        F.transform(
            F.col("toks"), lambda t, i: F.struct(t.alias("tok"), i.alias("pos"))
        ),
        lambda s: ~F.exists(
            F.col("spans"),
            lambda sp: s["pos"].cast("long").between(
                sp["span_start"], sp["span_end"]
            ),
        ),
    )
    # own projection boundary: clean_text, n_tokens_kept AND the emptiness
    # filter all consume `kept` — inlined, the per-token exists() HOF would
    # run 3x per row (Catalyst never CSEs inside lambda bodies, and
    # CollapseProject keeps non-cheap aliases separate only when they stay
    # in their own Project). Measured at the 100x replica: the cut stage
    # dropped ~85 s -> ~29 s (query alpha 0.93 -> 0.64).
    pruned = joined.select("doc_id", kept.alias("kept"))
    return (
        pruned.select(
            "doc_id",
            F.array_join(
                F.transform("kept", lambda s: s["tok"]), " "
            ).alias("clean_text"),
            F.size("kept").cast("long").alias("n_tokens_kept"),
        )
        .filter(F.col("n_tokens_kept") > 0)
    )


def _sql_substr_spans(dup_dw_block: str) -> str:
    """The shared tok/win → spans CTE chain, parameterized on the block
    that selects which (doc_id, pos) window hits count as duplicated —
    keeps the remove-all and keep-first oracles one merge/cut text."""
    return f"""
tok AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
win AS (
    SELECT doc_id,
           unnest(range(len(toks) - {SUBSTR_K} + 1)) AS pos,
           unnest(list_transform(range(len(toks) - {SUBSTR_K} + 1),
                  i -> md5(array_to_string(toks[i+1:i+{SUBSTR_K}], ' ')))) AS h
    FROM tok WHERE len(toks) >= {SUBSTR_K}
),
{dup_dw_block},
flag AS (
    SELECT doc_id, pos,
           CASE WHEN LAG(pos) OVER w IS NULL
                  OR pos > LAG(pos) OVER w + {SUBSTR_K} THEN 1 ELSE 0 END AS brk
    FROM dw WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
isl AS (
    SELECT doc_id, pos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
    FROM flag
),
spans AS (
    SELECT doc_id, MIN(pos) AS span_start,
           MAX(pos) + {SUBSTR_K} - 1 AS span_end,
           MAX(pos) + {SUBSTR_K} - MIN(pos) AS span_tokens,
           COUNT(*) AS n_windows
    FROM isl GROUP BY doc_id, g
)
"""


_SQL_SUBSTR_SPANS = _sql_substr_spans(
    """dup AS (SELECT h FROM win GROUP BY h HAVING COUNT(*) > 1),
dw AS (SELECT doc_id, pos FROM win JOIN dup USING (h))"""
)

# keep-first: same chain, but the minimal (doc_id, pos) occurrence of each
# duplicate class is exempted from dw. Composite struct-min, NOT an
# arithmetic packing: doc_id*C+pos collides/misorders once a document
# exceeds C tokens, and a 100 TB web corpus does contain multi-million-
# token documents — struct comparison is collision-free at any size.
_SQL_SUBSTR_SPANS_KEEP_FIRST = _sql_substr_spans(
    """dup AS (
    SELECT h, MIN(struct_pack(d := doc_id, p := pos)) AS first
    FROM win GROUP BY h HAVING COUNT(*) > 1
),
dw AS (
    SELECT w.doc_id, w.pos FROM win w JOIN dup d USING (h)
    WHERE w.doc_id <> struct_extract(d.first, 'd')
       OR w.pos <> struct_extract(d.first, 'p')
)"""
)

# the cut: anti-range-join every token against the spans, re-assemble
_SQL_SUBSTR_CUT = """
toks_pos AS (
    SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS pos
    FROM tok
),
kept AS (
    SELECT t.doc_id, t.tok, t.pos FROM toks_pos t
    WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = t.doc_id
          AND t.pos BETWEEN s.span_start AND s.span_end)
)
SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
       COUNT(*) AS n_tokens_kept
FROM kept GROUP BY doc_id
"""


def family_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring family's shared span table — one build per session
    for dedup_substring_spans / _doc_stats / _remove, materialized via
    checkpoint_once (same rationale as family_shingles: the plain
    adaptive execution beats the AQE-suppressed cached-plan path, and
    the window-hash table is cheap enough to recompute inside the one
    build rather than persist)."""
    win = window_hashes(tbl(spark, sf_dir, "documents"))
    return checkpoint_once(duplicated_spans(win), "family_spans", sf_dir)


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH {_SQL_SUBSTR_SPANS}
    SELECT doc_id, span_start, span_end, span_tokens, n_windows FROM spans
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup: maximal duplicated token spans per document.

    The span list is what a remove-duplicated-text pass consumes (cut the
    spans, keep the rest) — the reference has no analog (its dedup is
    whole-item identity, bert/etl/__init__.py:57-80); this is the
    document-INTERNAL generalization a 100 TB text pipeline needs.
    """
    return family_spans(spark, sf_dir)


@query(
    "dedup_substring_doc_stats",
    oracle=f"""
    WITH {_SQL_SUBSTR_SPANS},
    per_doc AS (
        SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id, len(t.toks) AS n_tokens,
           COALESCE(p.dup_tokens, CAST(0 AS BIGINT)) AS dup_tokens,
           ROUND(CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE)
                 / CAST(len(t.toks) AS DOUBLE), 6) AS dup_fraction
    FROM tok t LEFT JOIN per_doc p USING (doc_id)
    """,
)
def dedup_substring_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-token budget: the filter signal for dropping
    or trimming mostly-duplicated documents (every doc appears, zero rows
    included — a quality-gate join key, not just a report).

    Cache-hits `dedup_substring_spans`' shared span table when both run in
    one session (canonical-plan match via persist_once).
    """
    docs = tbl(spark, sf_dir, "documents")
    spans = family_spans(spark, sf_dir)
    per_doc = spans.groupBy("doc_id").agg(F.sum("span_tokens").alias("dup_tokens"))
    n_tok = docs.select(
        "doc_id", F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens")
    )
    return (
        n_tok.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0).cast("long")).alias("dup_tokens"),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0))
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_fraction"),
        )
    )


@query(
    "dedup_substring_remove",
    oracle=f"""
    WITH {_SQL_SUBSTR_SPANS},
    {_SQL_SUBSTR_CUT}
    """,
)
def dedup_substring_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal pass: documents with every duplicated span cut out.

    Removes EVERY occurrence of a duplicated span (the behavior of Lee et
    al.'s released ExactSubstr tool; a keep-one variant would exempt the
    minimum (doc_id, span_start) occurrence per duplicate class). Documents
    whose every token sits in a duplicated span disappear from the output —
    there is nothing left to train on.

    Scale shape: see cut_spans(). The oracle unnests tokens and
    anti-range-joins instead (row-explode is fine at oracle scale); both
    reduce to identical (doc, kept-token-sequence) sets.
    """
    docs = tbl(spark, sf_dir, "documents")
    return cut_spans(docs, family_spans(spark, sf_dir))


@query(
    "dedup_substring_remove_keep_first",
    oracle=f"""
    WITH {_SQL_SUBSTR_SPANS_KEEP_FIRST},
    {_SQL_SUBSTR_CUT}
    """,
)
def dedup_substring_remove_keep_first(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Keep-one removal: the canonical first occurrence of each duplicated
    window — minimal (doc_id, pos) as a composite STRUCT min, collision-
    free for any document length (an arithmetic doc_id*C+pos packing
    silently misorders past C tokens per document; multi-million-token
    documents exist in a web corpus) — is exempted from the cut, so
    exactly one copy of each duplicated region survives in the corpus (an
    exact duplicate pair keeps one full document and guts the other). The
    oracle uses the identical struct_pack min.

    Same scale shape as dedup_substring_remove: the arg-min rides the same
    partial-agg shuffle that finds duplicates (no extra pass), everything
    downstream is shared machinery.
    """
    docs = tbl(spark, sf_dir, "documents")
    win = persist_once(window_hashes(docs))
    return cut_spans(docs, merge_window_spans(keep_first_dup_windows(win)))


def keep_first_dup_windows(win: DataFrame) -> DataFrame:
    """Duplicated k-window hits MINUS the canonical first occurrence of
    each duplicate class: (doc_id, pos) rows to cut, sparing the minimal
    (doc_id, pos) copy. The arg-min is a composite STRUCT min riding the
    same partial-agg shuffle that detects duplicates — an arithmetic
    doc_id*C+pos packing would silently misorder once a document exceeds
    C tokens (tests/test_dedup.py pins pos >= 1e6)."""
    dup = (
        win.groupBy("h")
        .agg(
            F.count("*").alias("n"),
            F.min(
                F.struct(F.col("doc_id").alias("d"), F.col("pos").alias("p"))
            ).alias("first"),
        )
        .filter(F.col("n") > 1)
    )
    return (
        win.join(dup.select("h", "first"), "h")
        .filter(
            (F.col("doc_id") != F.col("first.d"))
            | (F.col("pos") != F.col("first.p"))
        )
        .select("doc_id", "pos")
    )


# ---------------------------------------------------------------------------
# EXACT all-pairs similarity join via prefix filtering (AllPairs/PPJoin,
# Bayardo et al. WWW'07) — the third candidate-generation strategy in the
# family, complementing the df-cap (lossy: hot shingles leave the
# representation) and MinHash-LSH (probabilistic: banding misses pairs).
# Prefix filtering is LOSSLESS: order each document's shingles by a global
# rarity order (ascending document frequency, shingle as tie-break); a
# document with |x| shingles keeps only its first |x| - ceil(tau*|x|) + 1
# as its PREFIX. If Jaccard(x,y) >= tau then |x∩y| >= ceil(tau*max(|x|,|y|))
# and the globally-smallest common shingle provably lands in BOTH prefixes
# — so the prefix self-join finds every qualifying pair, while boilerplate
# (high-df) shingles sort to the END of each document and rarely enter any
# prefix: the candidate fan-out collapses without dropping a single pair.
#
# Scale shape: df-annotate (one shuffle on shingle) → per-doc rank window
# (one shuffle on doc) → prefix self-join emits only rare-token collisions
# → verify with one array_intersect per CANDIDATE (JVM-side, O(len)), not
# per posting pair. The length filter (tau*|x| <= |y| <= |x|/tau) prunes
# candidates before any array moves.
# ---------------------------------------------------------------------------

ALLPAIRS_TAU = JACCARD_THRESHOLD  # same threshold as the family pair table

# Pre-flight tractability budget for the prefix self-join. Prefix
# filtering's candidate count is EXACTLY bounded by sum over shingles of
# prefix-df² — one cheap aggregation over the prefix postings predicts the
# join's output volume before any pair is emitted. On natural text the
# rarity order makes prefixes nearly unique and the bound tiny; on a
# dense/low-entropy shingle space (tiny vocabulary, boilerplate floods)
# every shingle is hot and the bound goes quadratic — measured on the
# 100x replica (500k docs over a 31-token vocabulary): bound ~10^10,
# and the unguarded join spilled 45 GB and died. The guard REFUSES with
# that number and points at the two strategies that stay tractable there
# (df-capped inverted index, MinHash-LSH banding) — predictable refusal
# over cluster melt, the autoBroadcastJoinThreshold philosophy.
ALLPAIRS_BUDGET_CONF = "spark.bert_etl.allpairs.candidateBudget"
ALLPAIRS_BUDGET_DEFAULT = 500_000_000


@query(
    "dedup_allpairs_prefix",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ),
    rsh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(len(toks) - 2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
                   AS shingle
        FROM tok WHERE len(toks) >= 3
    ),
    rsizes AS (SELECT doc_id, COUNT(*) AS sz FROM rsh GROUP BY doc_id),
    rinter AS (
        SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, COUNT(*) AS n_inter
        FROM rsh a JOIN rsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_i, doc_j,
           ROUND(CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter), 6)
               AS jaccard
    FROM rinter
    JOIN rsizes sa ON doc_i = sa.doc_id
    JOIN rsizes sb ON doc_j = sb.doc_id
    WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter)
          >= {ALLPAIRS_TAU}
    """,
)
def dedup_allpairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    tau = ALLPAIRS_TAU
    # checkpoint_once, NOT persist_once: the raw shingle table feeds the
    # heaviest join in the family and executing it into the block cache
    # would run the whole pipeline on the AQE-suppressed cached-plan path
    # (the round-8 family lesson, registry.checkpoint_once's docstring)
    # respread=True: the consumers (df-rank window, prefix self-join,
    # collect_list + array_intersect verify) are the heaviest per-row
    # compute in the family — a frozen 2-partition layout serialized the
    # whole pipeline (registry.checkpoint_once, round-14 §2)
    sh = checkpoint_once(
        shingles_df(tbl(spark, sf_dir, "documents")),
        "allpairs_raw_shingles",
        sf_dir,
        respread=True,
    )
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("dfreq"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    w = Window.partitionBy("doc_id").orderBy("dfreq", "shingle")
    prefix = (
        sh.join(dfreq, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, "doc_id")
        .filter(F.col("pos") <= F.col("sz") - F.ceil(tau * F.col("sz")) + 1)
        .select("doc_id", "shingle", "sz")
    )
    prefix = checkpoint_once(prefix, "allpairs_prefix", sf_dir, respread=True)
    try:
        budget = int(
            spark.conf.get(ALLPAIRS_BUDGET_CONF, str(ALLPAIRS_BUDGET_DEFAULT))
        )
    except Exception:
        budget = ALLPAIRS_BUDGET_DEFAULT
    bound = (
        prefix.groupBy("shingle")
        .agg(F.count("*").alias("dfp"))
        .agg(F.sum(F.col("dfp") * F.col("dfp")).alias("b"))
        .first()["b"]
        or 0
    )
    if bound > budget:
        raise ValueError(
            f"prefix self-join candidate bound {bound:,} exceeds the "
            f"{ALLPAIRS_BUDGET_CONF} budget ({budget:,}): this corpus' "
            "shingle-df distribution has no rare tail, so exact lossless "
            "all-pairs is intractable here — use the df-capped inverted "
            "index (dedup_ngram_jaccard) or MinHash-LSH banding "
            "(dedup_minhash_lsh), or raise the budget deliberately"
        )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: tau*|x| <= |y| <= |x|/tau or the pair can't reach tau
            & (F.col("b.sz") >= F.ceil(tau * F.col("a.sz")))
            & (F.col("a.sz") >= F.ceil(tau * F.col("b.sz"))),
        )
        .select(
            F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j")
        )
        .distinct()
    )
    arrays = sh.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("arr"), F.count("*").alias("sz")
    )
    ai = arrays.select(
        F.col("doc_id").alias("doc_i"),
        F.col("arr").alias("arr_i"),
        F.col("sz").alias("sz_i"),
    )
    aj = arrays.select(
        F.col("doc_id").alias("doc_j"),
        F.col("arr").alias("arr_j"),
        F.col("sz").alias("sz_j"),
    )
    n_inter = F.size(F.array_intersect("arr_i", "arr_j")).cast("double")
    jac = n_inter / (F.col("sz_i") + F.col("sz_j") - n_inter)
    return (
        cand.join(ai, "doc_i")
        .join(aj, "doc_j")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= tau)
        .select("doc_i", "doc_j", F.round("jaccard", 6).alias("jaccard"))
    )
