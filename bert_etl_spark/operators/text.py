"""Text analysis over the documents corpus (SURVEY §2B north-star ops):
token statistics, top-token frequencies, TF-IDF, language-ID heuristic,
quality scoring, bottom-k fingerprinting.

Reference parity: the reference would run all of this as per-item Python
(SURVEY §2A#13); here the tokenizer is `split` + `explode` (JVM-side), stats
are hash aggregates, and TF-IDF is two aggregations + a broadcast of the
corpus size — one shuffle on token, one on doc.

Scale notes:
- explode(tokens) multiplies rows by ~token count; partial aggregation
  shrinks it back before any exchange.
- the document-frequency table is tiny (vocabulary-sized) → broadcast back.
- language-ID / quality scores are pure per-row expressions (no shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bert_etl_spark.functions.deterministic import dsum, sql_dsum
from bert_etl_spark.functions.localdf import local_frame
from bert_etl_spark.operators.index_lifecycle import (
    IndexFamily,
    build_family,
    family_compact,
    family_delete,
    family_ingest,
    family_upsert,
    index_stream,
    read_with_cached_schema,
)
from bert_etl_spark.operators.dedup import shingles_df, tokenize
from bert_etl_spark.operators.registry import persist_once, query, spread, tbl

# tiny stopword profiles for the language-ID heuristic (counts of exact
# token hits per profile; argmax wins, ties → 'und')
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("a", "the", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "en", "un"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein"),
}

TOP_N_TOKENS = 20
FINGERPRINT_K = 4


def _sql_in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


@query(
    "text_token_stats",
    oracle="""
    WITH tok AS (SELECT doc_id, n_chars, string_split(trim(text), ' ') AS toks
                 FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_unique,
           CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
               / len(toks) AS avg_token_len,
           n_chars
    FROM tok
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokenize(F.col("text"))
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique"),
        (total_len.cast("double") / F.size(toks)).alias("avg_token_len"),
        "n_chars",
    )


@query(
    "text_top_tokens",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents
    )
    SELECT token, COUNT(*) AS n
    FROM tok GROUP BY token
    ORDER BY n DESC, token
    LIMIT {TOP_N_TOKENS}
    """,
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        tbl(spark, sf_dir, "documents")
        .select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(TOP_N_TOKENS)
    )


# Token counting two ways: whitespace split vs a BPE-ish regex (letter runs,
# digit runs, single other glyphs — the pre-tokenization most BPE vocab
# pipelines apply). Both JVM-side regex, no Python.
@query(
    "text_token_count_bpe",
    oracle="""
    SELECT doc_id,
           len(string_split(trim(text), ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS bpe_ish_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS byte_len_estimate
    FROM documents
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokenize(F.col("text"))).cast("long").alias("ws_tokens"),
        F.size(
            F.expr(r"regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]', 0)")
        ).cast("long").alias("bpe_ish_tokens"),
        # the ~4-chars-per-token rule of thumb used for budget estimates
        F.ceil(F.length("text") / 4.0).cast("long").alias("byte_len_estimate"),
    )


# TF-IDF: tf = in-doc count, idf = ln(N/df). The df table is vocabulary-
# sized → broadcast; N rides along as a literal-free cross join of a 1-row
# aggregate (also broadcast).
@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    total AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token,
               ROUND(tf.tf * ln(CAST(total.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df USING (token) CROSS JOIN total
    )
    SELECT doc_id, token AS top_term, tfidf FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, token) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    total = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("token").alias("top_term"), "tfidf")
    )


@query(
    "text_langid",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS toks
                 FROM documents),
    hits AS (
        SELECT doc_id, lang AS labeled_lang,
               list_aggregate(list_transform(toks,
                   t -> CASE WHEN t IN ({_sql_in_list(LANG_PROFILES['en'])}) THEN 1 ELSE 0 END),
                   'sum') AS en_hits,
               list_aggregate(list_transform(toks,
                   t -> CASE WHEN t IN ({_sql_in_list(LANG_PROFILES['es'])}) THEN 1 ELSE 0 END),
                   'sum') AS es_hits,
               list_aggregate(list_transform(toks,
                   t -> CASE WHEN t IN ({_sql_in_list(LANG_PROFILES['de'])}) THEN 1 ELSE 0 END),
                   'sum') AS de_hits
        FROM tok
    )
    SELECT doc_id, labeled_lang,
           CAST(en_hits AS BIGINT) AS en_hits,
           CAST(es_hits AS BIGINT) AS es_hits,
           CAST(de_hits AS BIGINT) AS de_hits,
           CASE WHEN en_hits > es_hits AND en_hits > de_hits THEN 'en'
                WHEN es_hits > en_hits AND es_hits > de_hits THEN 'es'
                WHEN de_hits > en_hits AND de_hits > es_hits THEN 'de'
                ELSE 'und' END AS predicted_lang
    FROM hits
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokenize(F.col("text"))

    def hits(words: tuple[str, ...]):
        return F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.when(t.isin(*words), 1).otherwise(0),
        )

    en, es, de = (hits(LANG_PROFILES[k]) for k in ("en", "es", "de"))
    predicted = (
        F.when((en > es) & (en > de), "en")
        .when((es > en) & (es > de), "es")
        .when((de > en) & (de > es), "de")
        .otherwise("und")
    )
    return tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        en.alias("en_hits"),
        es.alias("es_hits"),
        de.alias("de_hits"),
        predicted.alias("predicted_lang"),
    )


# Shared quality-score pipeline (SQL fragment + Spark column builder):
# per-row features → weighted score. Per-row double math is bit-identical
# across engines, so the score needs no decimal detour.
_SQL_QUALITY = f"""
tok AS (SELECT doc_id, source, text, string_split(trim(text), ' ') AS toks
        FROM documents),
feats AS (
    SELECT doc_id, source,
           length(text) AS n_chars,
           len(toks) AS n_tokens,
           CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
               / len(toks) AS mean_token_len,
           CAST(list_aggregate(list_transform(toks,
               t -> CASE WHEN t IN ({_sql_in_list(LANG_PROFILES['en'])}) THEN 1 ELSE 0 END),
               'sum') AS DOUBLE) / len(toks) AS stopword_ratio,
           CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio
    FROM tok
),
scored AS (
    SELECT *,
           0.3 * least(n_tokens / 100.0, 1.0)
           + 0.3 * least(mean_token_len / 5.0, 1.0)
           + 0.2 * least(stopword_ratio * 5.0, 1.0)
           + 0.2 * (1.0 - punct_ratio) AS quality_score
    FROM feats
)
"""


def _quality_parts():
    """(n_tokens, mean_len, stop_ratio, punct_ratio, score) column bundle —
    the Spark twin of the ``_SQL_QUALITY`` fragment."""
    toks = tokenize(F.col("text"))
    n_tokens = F.size(toks)
    mean_len = (
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)).cast(
            "double"
        )
        / n_tokens
    )
    stop_ratio = (
        F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda a, t: a + F.when(t.isin(*LANG_PROFILES["en"]), 1).otherwise(0),
        ).cast("double")
        / n_tokens
    )
    punct_ratio = (
        F.length(F.regexp_replace(F.col("text"), "[a-z0-9 ]", "")).cast("double")
        / F.length(F.col("text"))
    )
    score = (
        0.3 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + 0.3 * F.least(mean_len / 5.0, F.lit(1.0))
        + 0.2 * F.least(stop_ratio * 5.0, F.lit(1.0))
        + 0.2 * (1.0 - punct_ratio)
    )
    return n_tokens, mean_len, stop_ratio, punct_ratio, score


# Quality scoring: pure per-row expressions (length, token stats, stopword
# and punctuation ratios → weighted score). No shuffle at any scale.
@query(
    "text_quality_score",
    oracle=f"""
    WITH {_SQL_QUALITY}
    SELECT doc_id, n_chars, n_tokens,
           ROUND(mean_token_len, 6) AS mean_token_len,
           ROUND(stopword_ratio, 6) AS stopword_ratio,
           ROUND(punct_ratio, 6) AS punct_ratio,
           ROUND(quality_score, 6) AS quality_score
    FROM scored
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_tokens, mean_len, stop_ratio, punct_ratio, score = _quality_parts()
    return tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(mean_len, 6).alias("mean_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


# Corpus quality gate: the filter stage of a training-data pipeline —
# score every document, keep those above threshold, report per-source
# yield. Score is per-row math (no shuffle); the rollup is one partial
# agg + a 20-group exchange at any corpus size.
QUALITY_THRESHOLD = 0.5


@query(
    "text_quality_gate",
    oracle=f"""
    WITH {_SQL_QUALITY}
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(count_if(quality_score >= {QUALITY_THRESHOLD}) AS BIGINT) AS n_pass,
           ROUND(CAST(count_if(quality_score >= {QUALITY_THRESHOLD}) AS DOUBLE)
                 / COUNT(*), 6) AS pass_rate
    FROM scored
    GROUP BY source
    """,
)
def text_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    *_, score = _quality_parts()
    passes = F.when(score >= QUALITY_THRESHOLD, 1).otherwise(0)
    return (
        tbl(spark, sf_dir, "documents")
        .select("source", passes.alias("p"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("p").alias("n_pass"),
            F.round(F.sum("p").cast("double") / F.count("*"), 6).alias("pass_rate"),
        )
    )


# Bottom-k fingerprint: digest of the k smallest shingle hashes — a compact,
# order-free near-dup sketch (winnowing-style). Docs sharing a fingerprint
# are near-dup candidates at zero pairwise cost.
@query(
    "text_fingerprint",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(len(toks) - 2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shingle
        FROM tok WHERE len(toks) >= 3
    )
    SELECT doc_id,
           md5(array_to_string(
               list_slice(list_sort(list(md5(shingle))), 1, {FINGERPRINT_K}), '')) AS fingerprint,
           COUNT(*) AS n_shingles
    FROM sh GROUP BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingles_df(tbl(spark, sf_dir, "documents"))
    return (
        sh.select("doc_id", F.md5("shingle").alias("h"))
        .groupBy("doc_id")
        .agg(
            F.md5(
                F.concat_ws("", F.slice(F.array_sort(F.collect_list("h")), 1, FINGERPRINT_K))
            ).alias("fingerprint"),
            F.count("*").alias("n_shingles"),
        )
    )


# Bigram language-model statistics: P(w2|w1) = c(w1 w2)/c(w1) over the
# corpus — the n-gram building block for perplexity filters in training-
# data pipelines. Two shuffles (bigram counts, unigram counts), then a
# broadcast-sized join on the conditioning token. Restricted to the top
# conditioning tokens so output stays bounded at any SF.
@query(
    "text_bigram_lm",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ),
    bigrams AS (
        SELECT unnest(list_transform(range(len(toks) - 1),
                      i -> {'w1': toks[i+1], 'w2': toks[i+2]})) AS bg
        FROM tok WHERE len(toks) >= 2
    ),
    bg_counts AS (
        SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS c12
        FROM bigrams GROUP BY 1, 2
    ),
    uni AS (SELECT w1, SUM(c12) AS c1 FROM bg_counts GROUP BY w1)
    SELECT b.w1, b.w2, b.c12,
           CAST(b.c12 AS DOUBLE) / u.c1 AS p_cond
    FROM bg_counts b JOIN uni u ON b.w1 = u.w1
    WHERE u.c1 >= 100
    """,
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    toked = spread(docs).select(
        "doc_id", F.split(F.trim("text"), " ").alias("toks")
    ).filter(F.size("toks") >= 2)
    bigrams = toked.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 2),
                lambda i: F.struct(
                    F.element_at("toks", i + 1).alias("w1"),
                    F.element_at("toks", i + 2).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bg_counts = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni = bg_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return (
        bg_counts.join(F.broadcast(uni.filter(F.col("c1") >= 100)), "w1")
        .select(
            "w1",
            "w2",
            "c12",
            (F.col("c12").cast("double") / F.col("c1")).alias("p_cond"),
        )
    )


# Perplexity-style quality filter: score each document by the mean
# surprisal of its bigrams under the corpus bigram LM (ln(c1/c12), i.e.
# -ln P(w2|w1)) — the classic LM-based filter for training-data
# pipelines (high score = unusual word sequences). The LM table comes
# from one aggregation over the corpus and joins back to per-doc bigrams
# on (w1, w2); surprisal is rounded to 6 decimals BEFORE the decimal-
# exact mean so the reduction is order-free and engine-identical.
@query(
    "text_perplexity_score",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ),
    doc_bg AS (
        SELECT doc_id,
               unnest(list_transform(range(len(toks) - 1),
                      i -> {'w1': toks[i+1], 'w2': toks[i+2]})) AS bg
        FROM tok WHERE len(toks) >= 2
    ),
    flat AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM doc_bg),
    bg_counts AS (SELECT w1, w2, COUNT(*) AS c12 FROM flat GROUP BY 1, 2),
    uni AS (SELECT w1, SUM(c12) AS c1 FROM bg_counts GROUP BY w1)
    SELECT f.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CAST(round(ln(CAST(u.c1 AS DOUBLE) / b.c12), 6)
                         AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS surprisal
    FROM flat f
    JOIN bg_counts b ON f.w1 = b.w1 AND f.w2 = b.w2
    JOIN uni u ON f.w1 = u.w1
    GROUP BY f.doc_id
    """,
)
def text_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    toked = spread(docs).select(
        "doc_id", F.split(F.trim("text"), " ").alias("toks")
    ).filter(F.size("toks") >= 2)
    flat = toked.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 2),
                lambda i: F.struct(
                    F.element_at("toks", i + 1).alias("w1"),
                    F.element_at("toks", i + 2).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # LM table consumed by the per-doc join — persist or it re-aggregates
    # once per downstream consumer
    bg_counts = persist_once(flat.groupBy("w1", "w2").agg(F.count("*").alias("c12")))
    uni = bg_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    surprisal = F.round(
        F.log(F.col("c1").cast("double") / F.col("c12")), 6
    ).cast("decimal(25,6)")
    return (
        flat.join(bg_counts, ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.sum(surprisal).cast("double") / F.count("*")).alias("surprisal"),
        )
    )


# PII scrubbing: the redaction pass every training-data pipeline runs before
# tokenization. Pure per-row regex (whole-stage codegen, zero shuffle, scales
# embarrassingly); emails are redacted first so numeric-run counting sees the
# same residue in both engines. Spark regexp_replace is replace-all by
# default — DuckDB needs the explicit 'g' flag; Spark regexp_extract_all
# needs explicit group 0 (its default is group 1, unlike DuckDB).
_PII_EMAIL = "[a-z0-9._]+@[a-z0-9.-]+"
_PII_NUM = "[0-9]+"


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INTEGER)
                   AS n_emails,
               regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g') AS no_email
        FROM documents
    ),
    t AS (
        SELECT doc_id, n_emails,
               CAST(len(regexp_extract_all(no_email, '{_PII_NUM}')) AS INTEGER)
                   AS n_numeric,
               regexp_replace(no_email, '{_PII_NUM}', '<NUM>', 'g') AS scrubbed
        FROM s
    )
    SELECT doc_id, n_emails, n_numeric,
           CAST(length(scrubbed) AS INTEGER) AS scrubbed_chars,
           substr(scrubbed, 1, 80) AS preview
    FROM t
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    no_email = F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>")
    scrubbed = F.regexp_replace(no_email, _PII_NUM, "<NUM>")
    return tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(no_email, F.lit(_PII_NUM), 0)).alias("n_numeric"),
        F.length(scrubbed).alias("scrubbed_chars"),
        F.substring(scrubbed, 1, 80).alias("preview"),
    )


# Split-aware n-gram novelty: what fraction of each eval doc's trigrams
# never appear in the train split — the generalization-vs-memorization
# probe run after corpus splitting (high overlap = the eval set leaks
# training text). Reuses the md5-bucket split (train = nibbles 0..b, same
# rule as corpus_split_train_val_test) so the metric is reproducible.
# Plan shape: one shingle pass carrying (doc_id, lang, is_train), then a
# LEFT join of eval shingles against the DISTINCT train-shingle set with a
# seen-marker, aggregated per lang. The join is linear in shingles (no
# pair blowup — anti/semi probes don't multiply on hot keys); at 100 TB
# you'd put a bloom filter on the train set ahead of the shuffle, which
# Spark injects automatically under runtime filtering for selective sides.
@query(
    "text_ngram_novelty",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' AS is_train,
               string_split(trim(text), ' ') AS toks
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, lang, is_train,
               unnest(list_transform(range(len(toks) - 2),
                      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
                   AS shingle
        FROM tok WHERE len(toks) >= 3
    ),
    train_sh AS (SELECT DISTINCT shingle FROM sh WHERE is_train),
    eval_marked AS (
        SELECT e.lang, t.shingle IS NOT NULL AS seen
        FROM sh e LEFT JOIN train_sh t ON e.shingle = t.shingle
        WHERE NOT e.is_train
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_eval_shingles,
           CAST(COUNT(*) FILTER (WHERE NOT seen) AS BIGINT) AS n_novel,
           ROUND(CAST(COUNT(*) FILTER (WHERE NOT seen) AS DOUBLE)
                 / COUNT(*), 6) AS novelty_rate
    FROM eval_marked GROUP BY lang
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(tbl(spark, sf_dir, "documents"))
    toked = docs.select(
        "doc_id",
        "lang",
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "c").alias(
            "is_train"
        ),
        tokenize(F.col("text")).alias("toks"),
    ).filter(F.size("toks") >= 3)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 3),
        lambda i: F.array_join(F.slice("toks", i + 1, 3), " "),
    )
    sh = toked.select(
        "doc_id", "lang", "is_train", F.explode(grams).alias("shingle")
    ).distinct()
    train_sh = sh.filter(F.col("is_train")).select("shingle").distinct()
    marked = (
        sh.filter(~F.col("is_train"))
        .join(
            train_sh.withColumn("seen_flag", F.lit(1)), on="shingle", how="left"
        )
        .select("lang", F.col("seen_flag").isNotNull().alias("seen"))
    )
    novel = F.count(F.when(~F.col("seen"), True))
    return marked.groupBy("lang").agg(
        F.count("*").alias("n_eval_shingles"),
        novel.alias("n_novel"),
        F.round(novel.cast("double") / F.count("*"), 6).alias("novelty_rate"),
    )


REPETITION_MAX_RATIO = 0.2  # docs whose top bigram exceeds this share fail


# Repetition-based quality filter (the Gopher/RefinedWeb "repetition rules"
# family): a doc whose single most frequent bigram covers more than 20% of
# all its bigram slots is boilerplate/spam-like and gets gated. Pure
# per-doc computation: explode bigrams -> count per (doc, bigram) -> one
# max-over-doc window — every stage shares the doc_id shuffle key. The
# deterministic tiebreak (count desc, bigram asc) makes the reported top
# bigram engine-identical, not just the ratio.
@query(
    "text_repetition_filter",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(len(toks) - 1),
                      i -> toks[i+1] || ' ' || toks[i+2])) AS bigram
        FROM tok WHERE len(toks) >= 2
    ),
    cnt AS (
        SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS n
        FROM bg GROUP BY doc_id, bigram
    ),
    ranked AS (
        SELECT doc_id, bigram, n,
               CAST(SUM(n) OVER (PARTITION BY doc_id) AS BIGINT) AS total,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY n DESC, bigram) AS rn
        FROM cnt
    )
    SELECT doc_id, bigram AS top_bigram, n AS top_count, total,
           ROUND(CAST(n AS DOUBLE) / total, 6) AS top_ratio,
           CAST(n AS DOUBLE) / total > {REPETITION_MAX_RATIO} AS is_repetitive
    FROM ranked WHERE rn = 1
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(tbl(spark, sf_dir, "documents"))
    toked = docs.select("doc_id", tokenize(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    bigrams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.array_join(F.slice("toks", i + 1, 2), " "),
    )
    cnt = (
        toked.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("doc_id")
    ranked = cnt.withColumn("total", F.sum("n").over(w)).withColumn(
        "rn", F.row_number().over(w.orderBy(F.desc("n"), "bigram"))
    )
    ratio = F.col("n").cast("double") / F.col("total")
    return ranked.filter(F.col("rn") == 1).select(
        "doc_id",
        F.col("bigram").alias("top_bigram"),
        F.col("n").alias("top_count"),
        "total",
        F.round(ratio, 6).alias("top_ratio"),
        (ratio > REPETITION_MAX_RATIO).alias("is_repetitive"),
    )


VOCAB_SIZE = 500  # top-V tokens kept in the demo vocabulary


# Vocabulary build + coverage audit: take the top-V tokens by corpus
# frequency (deterministic tiebreak: count desc, token asc) and report,
# per language, what fraction of token INSTANCES the vocab covers — the
# OOV-rate check run before committing to a tokenizer vocab. Plan: one
# tokenize/explode pass feeds both the global vocab top-V (group-limit
# window over the compact token-count table) and the per-lang coverage
# join; the explode pass is the only row-scale stage, everything after
# runs on |distinct tokens| rows. The vocab side broadcasts.
@query(
    "text_vocab_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest(string_split(trim(text), ' ')) AS token
        FROM documents
    ),
    cnt AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n
        FROM tok GROUP BY token
    ),
    vocab AS (
        SELECT token FROM (
            SELECT token, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rn
            FROM cnt
        ) WHERE rn <= {VOCAB_SIZE}
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE v.token IS NOT NULL) AS BIGINT)
               AS n_covered,
           ROUND(CAST(COUNT(*) FILTER (WHERE v.token IS NOT NULL) AS DOUBLE)
                 / COUNT(*), 6) AS coverage
    FROM tok t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY lang
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(tbl(spark, sf_dir, "documents"))
    tok = persist_once(
        docs.select("lang", F.explode(tokenize(F.col("text"))).alias("token"))
    )
    from bert_etl_spark.operators.global_order import with_global_rank

    cnt = tok.groupBy("token").agg(F.count("*").alias("n"))
    vocab = (
        with_global_rank(cnt, [F.desc("n"), F.asc("token")], "rn")
        .filter(F.col("rn") <= VOCAB_SIZE)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    marked = tok.join(F.broadcast(vocab), "token", "left")
    covered = F.count(F.when(F.col("in_vocab").isNotNull(), True))
    return marked.groupBy("lang").agg(
        F.count("*").alias("n_tokens"),
        covered.alias("n_covered"),
        F.round(covered.cast("double") / F.count("*"), 6).alias("coverage"),
    )


# One BPE-training counting step: the frequency of every adjacent symbol
# pair, weighted by token frequency — the argmax of this table IS the next
# BPE merge. Scale shape: the corpus collapses to its VOCABULARY first
# (one token shuffle with partial agg — vocab << corpus by Heaps' law), so
# the pair explode runs over |vocab| rows, not |tokens|; the global top-20
# is a TakeOrderedAndProject over the (tiny) pair-aggregate. Looping this
# query with a merge-apply step is full BPE training; one step is the
# deterministic, SQL-oracle-checkable unit.
@query(
    "text_bpe_merge_candidates",
    oracle="""
    WITH vocab AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS freq FROM (
            SELECT unnest(string_split(trim(text), ' ')) AS token
            FROM documents
        ) GROUP BY token
    ),
    pairs AS (
        SELECT substr(token, i+1, 1) || substr(token, i+2, 1) AS pair, freq
        FROM (SELECT token, freq, unnest(range(len(token)-1)) AS i
              FROM vocab WHERE len(token) >= 2)
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair LIMIT 20
    """,
)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(tbl(spark, sf_dir, "documents"))
    vocab = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    pair_at = lambda i: F.concat(  # noqa: E731
        F.col("token").substr(i + 1, F.lit(1)),
        F.col("token").substr(i + 2, F.lit(1)),
    )
    return (
        vocab.filter(F.length("token") >= 2)
        .select(
            F.explode(
                F.transform(F.sequence(F.lit(0), F.length("token") - 2), pair_at)
            ).alias("pair"),
            "freq",
        )
        .groupBy("pair")
        .agg(F.sum("freq").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(TOP_N_TOKENS)
    )


# ---------------------------------------------------------------------------
# BPE training loop: argmax-merge-recount for a fixed number of steps
# ---------------------------------------------------------------------------

BPE_TRAIN_STEPS = 3  # fixed for oracle determinism (unrolled CTE chain)
_US = chr(31)  # unit separator: wraps every symbol, absent from the corpus


def _bpe_pack(sym_list_expr: str) -> str:
    """Spark SQL expr: wrap a symbol list as the delimited state string
    ``\\x1fs1\\x1f\\x1fs2\\x1f...`` — every symbol individually fenced, so a
    single string replace() of ``\\x1fL\\x1f\\x1fR\\x1f`` is EXACTLY the
    greedy left-to-right non-overlapping adjacent-pair merge of classic
    BPE (single fences would let one match consume the next match's
    opening fence: [a,a,a,a] must merge to [aa,aa], not [aa,a,a])."""
    return (
        f"concat('{_US}', array_join({sym_list_expr}, '{_US}{_US}'), '{_US}')"
    )


def _bpe_loop(docs: DataFrame, k: int) -> tuple[list[tuple], DataFrame]:
    """The k-step training loop shared by bpe_train_steps (returns the
    merge table) and bpe_encode_vocab (returns the final per-token symbol
    state). State rows are (token, s, freq): the original token rides
    along untouched so encoders can map corpus tokens to their final
    symbol segmentation — the oracle chain threads the same column."""
    sep = F.lit(_US)
    chars = "transform(sequence(1, length(token)), i -> substring(token, i, 1))"
    state = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .filter(F.length("token") >= 2)  # 1-symbol tokens never pair
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .select("token", F.expr(_bpe_pack(chars)).alias("s"), "freq")
    )
    state = persist_once(state)
    merges: list[tuple] = []
    for step in range(1, k + 1):
        # symbol array in its OWN projection: Catalyst does not CSE inside
        # HOF lambda bodies (the substring-cut lesson)
        arr = state.select(
            F.split(F.btrim(F.col("s"), sep), _US + _US).alias("arr"), "freq"
        ).filter(F.size("arr") >= 2)
        pair_expr = (
            "transform(sequence(0, size(arr)-2), i -> "
            "struct(element_at(arr, i+1) as l, element_at(arr, i+2) as r))"
        )
        best = (
            arr.select(F.explode(F.expr(pair_expr)).alias("p"), "freq")
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:  # vocabulary fully merged — nothing left to train
            break
        left, right, n = best[0].l, best[0].r, best[0].n
        merges.append((step, left, right, left + right, n))
        pat = F.concat(sep, F.lit(left), sep, sep, F.lit(right), sep)
        rep = F.concat(sep, F.lit(left + right), sep)
        nxt = persist_once(
            state.select(
                "token", F.replace(F.col("s"), pat, rep).alias("s"), "freq"
            )
        )
        nxt.count()  # materialize BEFORE releasing the predecessor
        state.unpersist()
        state = nxt
    return merges, state


def bpe_train_steps(docs: DataFrame, k: int) -> list[tuple]:
    """k classic BPE merges over the whitespace-token vocabulary: returns
    [(step, left_sym, right_sym, merged, n_occurrences)] — the trained
    merge table. The reference-shaped iterate-until-done job
    (/root/reference/bert/runner/manager.py:172-178 re-loops a queue the
    same way): argmax the pair table, apply the merge, recount.

    Scale shape per step (the text_bpe_merge_candidates bound, preserved):
    the corpus collapsed to its VOCABULARY once up front (Heaps' law:
    |vocab| << corpus, measured alpha 0.17 at 100x), so every recount is
    one pair explode + partial-agg shuffle over |vocab| rows. The argmax
    is a 1-ROW collect (metadata-scale, like the streaming ledger's
    bucket list); the merge-apply is a NARROW string replace — no shuffle,
    no explode. State is persist-swapped per step (materialize the new
    vocabulary, then release the predecessor).

    Symbol state is the fenced string (see _bpe_pack), identical in the
    DuckDB oracle, so the whole loop is value-checked end to end."""
    merges, state = _bpe_loop(docs, k)
    state.unpersist()
    return merges


def bpe_encode_vocab(docs: DataFrame, k: int) -> DataFrame:
    """Train k merges, then return the encoded VOCABULARY: (token, n_syms)
    — each distinct corpus token's symbol count under the trained
    tokenizer. Encoding the corpus is then a broadcast join of this
    Heaps-law-sized table onto the token stream — the same
    vocabulary-first bound as training; the per-document pass never
    re-runs the merge machinery. The returned DataFrame stays persisted
    (released by registry.release_internals); its plan bakes the merge
    literals, so consumers are replay-safe."""
    _, state = _bpe_loop(docs, k)
    sep = F.lit(_US)
    return state.select(
        "token",
        F.size(F.split(F.btrim(F.col("s"), sep), _US + _US))
        .cast("long")
        .alias("n_syms"),
    )


def _sql_bpe_steps(k: int, table: str = "documents") -> str:
    """Unrolled k-step CTE chain — the oracle twin of bpe_train_steps."""
    us = "chr(31)"
    chain = [
        f"""tok AS (
        SELECT unnest(string_split(trim(text), ' ')) AS token FROM {table}
    ),
    v0 AS (
        SELECT token,
               {us} || array_to_string(
                   list_transform(range(1, len(token) + 1),
                                  i -> substr(token, i, 1)),
                   {us} || {us}) || {us} AS s,
               CAST(COUNT(*) AS BIGINT) AS freq
        FROM tok WHERE len(token) >= 2 GROUP BY token
    )"""
    ]
    for t in range(1, k + 1):
        chain.append(
            f"""p{t} AS (
        SELECT arr[i+1] AS l, arr[i+2] AS r, SUM(freq) AS n
        FROM (SELECT arr, freq, unnest(range(len(arr) - 1)) AS i
              FROM (SELECT string_split(trim(s, {us}), {us} || {us}) AS arr,
                           freq
                    FROM v{t - 1}))
        GROUP BY l, r
    ),
    b{t} AS (SELECT l, r, n FROM p{t} ORDER BY n DESC, l, r LIMIT 1),
    v{t} AS (
        SELECT token,
               replace(s, {us} || b.l || {us} || {us} || b.r || {us},
                          {us} || b.l || b.r || {us}) AS s, freq
        FROM v{t - 1}, b{t} b
    )"""
        )
    return ",\n    ".join(chain)


# The merge-apply BPE training loop, registered: k argmax-merge-recount
# steps returning the trained merge table. See bpe_train_steps for the
# per-step scale bound; the DuckDB oracle is the unrolled chain from the
# SAME step count.
@query(
    "text_bpe_train_steps",
    oracle=f"""
    WITH {_sql_bpe_steps(BPE_TRAIN_STEPS)}
    SELECT * FROM (
        {" UNION ALL ".join(
            f"SELECT CAST({t} AS BIGINT) AS step, l AS left_sym, r AS right_sym, "
            f"l || r AS merged, CAST(n AS BIGINT) AS n_occurrences FROM b{t}"
            for t in range(1, BPE_TRAIN_STEPS + 1)
        )}
    ) ORDER BY step
    """,
)
def text_bpe_train_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(tbl(spark, sf_dir, "documents"))
    merges = bpe_train_steps(docs, BPE_TRAIN_STEPS)
    # local_frame: BPE_TRAIN_STEPS driver rows in ONE Python slice
    # (functions/localdf.py, round-14 §4)
    return local_frame(
        spark,
        merges,
        "step long, left_sym string, right_sym string, "
        "merged string, n_occurrences long",
    )


# Apply the trained tokenizer to the corpus: per-document symbol counts
# before (characters) and after the k trained merges. Vocabulary-first:
# the merge machinery runs over |vocab| rows; the corpus pass is one
# broadcast join of the (token -> n_syms) table onto the token stream —
# the count -> train -> APPLY closing step of the BPE family.
@query(
    "text_bpe_encode",
    oracle=f"""
    WITH {_sql_bpe_steps(BPE_TRAIN_STEPS)},
    enc AS (
        SELECT token,
               CAST(len(string_split(trim(s, chr(31)), chr(31) || chr(31)))
                    AS BIGINT) AS n_syms
        FROM v{BPE_TRAIN_STEPS}
    ),
    dt AS (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
        FROM documents
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(len(token)) AS BIGINT) AS n_char_syms,
           CAST(SUM(COALESCE(e.n_syms, LEAST(len(token), 1))) AS BIGINT)
               AS n_bpe_syms
    FROM dt LEFT JOIN enc e USING (token)
    GROUP BY doc_id
    """,
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(tbl(spark, sf_dir, "documents"))
    vocab_syms = bpe_encode_vocab(docs, BPE_TRAIN_STEPS)
    dt = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
    # vocabulary is Heaps-law-sized -> broadcast; tokens outside the
    # trained state are 1-symbol (len-1) or empty (len-0) tokens
    return (
        dt.join(F.broadcast(vocab_syms), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.length("token")).alias("n_char_syms"),
            F.sum(
                F.coalesce(F.col("n_syms"), F.least(F.length("token"), F.lit(1)))
            ).alias("n_bpe_syms"),
        )
    )


BOILERPLATE_PREFIX_CAP = 64  # chars scanned for shared template prefixes


# Per-source boilerplate PREFIX detection — the template-stripping prep
# step every scraped-corpus pipeline runs (site headers, license
# preambles, OCR banners arrive as a shared prefix on every doc from one
# source). The O(N) trick: the longest common prefix of ALL strings in a
# group equals LCP(lexicographic MIN, lexicographic MAX) — any prefix
# shared by the two sorted extremes is shared by everything between them.
# So the whole corpus needs ONE map-side-combinable min/max string
# aggregation (no all-pairs prefix compare, no per-group sort), and the
# LCP itself runs on |sources| rows. The position scan is a fixed
# 64-element transform + array_min (first mismatch index IS the LCP
# length), identical expression in both engines — capped because
# boilerplate beyond 64 chars is detected by the cap boundary and a
# second pass widens it in a real pipeline. At 100 TB: one partial-agg
# shuffle of two 64-char-truncatable strings per source, nothing else.
# Reference analog: per-queue uniform payload prefixes from templated
# producers (bert/encoders/base.py wire framing).
@query(
    "text_source_boilerplate_prefix",
    oracle=f"""
    WITH ext AS (
        SELECT source, COUNT(*) AS n_docs,
               MIN(text) AS lo, MAX(text) AS hi
        FROM documents GROUP BY source
    ),
    lcp AS (
        SELECT source, n_docs, lo,
               list_min(list_transform(range({BOILERPLATE_PREFIX_CAP}),
                   i -> CASE WHEN i >= LEAST(len(lo), len(hi))
                                  OR substr(lo, i + 1, 1) != substr(hi, i + 1, 1)
                             THEN i ELSE {BOILERPLATE_PREFIX_CAP} END)) AS lcp_len
        FROM ext
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(lcp_len AS INT) AS boilerplate_len,
           substr(lo, 1, lcp_len) AS boilerplate_prefix
    FROM lcp WHERE n_docs >= 2
    """,
)
def text_source_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    ext = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.min("text").alias("lo"),
        F.max("text").alias("hi"),
    )
    cap = BOILERPLATE_PREFIX_CAP
    lcp_len = F.expr(
        f"array_min(transform(sequence(0, {cap - 1}), i -> "
        f"CASE WHEN i >= LEAST(length(lo), length(hi)) "
        f"OR substr(lo, i + 1, 1) != substr(hi, i + 1, 1) "
        f"THEN i ELSE {cap} END))"
    )
    return (
        ext.filter(F.col("n_docs") >= 2)
        .withColumn("boilerplate_len", lcp_len.cast("int"))
        .select(
            "source",
            "n_docs",
            "boilerplate_len",
            F.expr("substr(lo, 1, boilerplate_len)").alias(
                "boilerplate_prefix"
            ),
        )
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval — the standard lexical scoring function (Robertson/
# Sparck Jones; the tf-saturated, length-normalized upgrade of the TF-IDF
# query above). Reference analog: none — the reference (SURVEY §2A#13)
# could only score documents one queue item at a time in Python; here the
# whole corpus is scored in one shuffle on token + one on doc.
#
# Scale shape (the inverted-index plan, not a scan-per-query):
# - the posting list is filtered to the QUERY'S terms before any exchange,
#   so the shuffled volume is O(docs containing a query term), not O(tokens);
# - df/N/avgdl are term- and corpus-level scalars: vocabulary-sized and
#   1-row broadcasts riding into the per-doc score stage;
# - per-(doc, term) contributions reduce with an exact decimal sum (dsum),
#   so scores — and therefore ranks — are identical across partition
#   orders, runs, and cluster sizes;
# - the final top-k is orderBy+limit = TakeOrderedAndProject (per-partition
#   heaps, no global sort), rank stamped AFTER the limit on k rows.
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("dup", "vector", "spark")
BM25_TOP_K = 15

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

# per-(doc, term) BM25 contribution — ONE expression string interpolated
# into the oracle, mirrored operation-for-operation on the Spark side so
# the doubles agree bitwise before the decimal reduction
_SQL_BM25_CONTRIB = (
    f"ln((bstats.n_docs - bdf.df + 0.5) / (bdf.df + 0.5) + 1.0)"
    f" * (btf.tf * ({BM25_K1} + 1)) / "
    f"(btf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B}"
    f" * (CAST(bdl.dl AS DOUBLE) / bstats.avgdl)))"
)

# the full scoring pipeline as oracle CTEs, shared with sim_hybrid_rrf.
# Parameterized by corpus CTE name at the f-string (never post-hoc regex
# rewriting — the round-13 _sql_ivfpq_ctes lesson): ``stats_corpus``
# lets an oracle score a MODIFIED corpus with the stats FROZEN from the
# build corpus — exactly what the indexed probe does after an upsert.
def _sql_bm25_ctes(
    corpus: str = "documents", stats_corpus: str | None = None
) -> str:
    stats_src = (
        "bdl"
        if stats_corpus is None
        else (
            "(SELECT len(string_split(trim(text), ' ')) AS dl "
            f"FROM {stats_corpus})"
        )
    )
    return f"""
btok AS (
    SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token FROM {corpus}
),
bdl AS (
    SELECT doc_id, len(string_split(trim(text), ' ')) AS dl FROM {corpus}
),
bstats AS (
    SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM {stats_src}
),
btf AS (
    SELECT doc_id, token, COUNT(*) AS tf FROM btok
    WHERE token IN ({_BM25_TERMS_SQL}) GROUP BY 1, 2
),
bdf AS (SELECT token, COUNT(*) AS df FROM btf GROUP BY 1),
bscore AS (
    SELECT btf.doc_id, {sql_dsum(_SQL_BM25_CONTRIB)} AS bm25
    FROM btf
    JOIN bdf USING (token)
    JOIN bdl ON btf.doc_id = bdl.doc_id
    CROSS JOIN bstats
    GROUP BY btf.doc_id
)
"""


SQL_BM25_CTES = _sql_bm25_ctes()


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for every document containing >= 1 query term —
    the Spark twin of SQL_BM25_CTES' ``bscore``. With
    ``spark.bert_etl.textidx.indexDir`` set, scores come off the durable
    posting index (partition-pruned probe, zero corpus access — see
    bm25_scores_indexed below); otherwise one corpus pass."""
    index_dir = TEXTIDX.index_dir(spark)
    if index_dir:
        return bm25_scores_indexed(spark, sf_dir, index_dir)
    docs = tbl(spark, sf_dir, "documents")
    dl = docs.select("doc_id", F.size(tokenize(F.col("text"))).alias("dl"))
    tf = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
        .filter(F.col("token").isin(*BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df_tbl = tf.groupBy("token").agg(F.count("*").alias("df"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_part = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1
        * (1 - BM25_B + BM25_B * (F.col("dl").cast("double") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(df_tbl), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("contrib", idf * tf_part)
        .groupBy("doc_id")
        .agg(dsum("contrib", "bm25"))
    )


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH {SQL_BM25_CTES}
    SELECT doc_id, bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
               AS rank
    FROM bscore
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOP_K}
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bert_etl_spark.operators.global_order import rank_bounded

    scored = bm25_scores(spark, sf_dir)
    top = scored.orderBy(F.desc("bm25"), "doc_id").limit(BM25_TOP_K)
    # rank stamped on the k post-limit rows (no empty-spec window)
    return rank_bounded(top, [F.desc("bm25"), F.col("doc_id")], "rank")


# ---------------------------------------------------------------------------
# Durable inverted (lexical) index — the fourth at-rest index family,
# through the SAME shared lifecycle as the dense three (IVF cells, MaxSim
# cells, sign-LSH buckets; operators/index_lifecycle.py): a
# ``partitionBy(bucket)`` posting table under
# ``spark.bert_etl.textidx.indexDir``, bucket = xxhash64(token) mod
# TEXTIDX_BUCKETS (int dirs — token strings are hostile as paths), with
# an atomic ``_n_buckets`` layout marker and a ``_collection_stats``
# artifact (n_docs, avgdl) frozen at build time — the lexical twin of the
# frozen ``_codebook``: ingests score against build-time collection
# statistics (stale idf, the standard search-engine trade) until a
# rebuild refreshes them.
#
# Why at rest: the session BM25 path tokenizes the WHOLE corpus per
# query. The index probe prunes to <= |query terms| bucket dirs (a static
# PartitionFilter), reads postings that already carry (tf, dl), derives
# df from the pruned postings themselves (each (token, doc) row appears
# once), and never touches the corpus — query cost is O(matching
# postings), not O(corpus). Rows carry pkey = token|doc for ingest
# idempotence; deletes tombstone by doc_id (one delete masks every
# posting of the doc).
# ---------------------------------------------------------------------------

TEXTIDX_DIR_CONF = "spark.bert_etl.textidx.indexDir"
# Layout-VERSIONED marker name (round-13 advice, 'medium' item): round 13
# added the ``positions`` column to the posting rows, and an ingest that
# appended positional rows into a PRE-positional standing index would
# leave mixed footers — the probes' "positions not in scan.columns" guard
# resolves from ONE footer, so phrase/proximity counts could silently
# read old rows as positions=NULL and drop their documents. Renaming the
# marker makes a pre-positional index (marker ``_n_buckets``) look
# UNVERSIONED to every verb: open_index refuses the dir (data, no marker,
# no sentinel), and _textidx_legacy_check turns that into the explicit
# "rebuild required" error instead of an append.
_TEXTIDX_MARKER = "_n_buckets_pos1"
_TEXTIDX_LEGACY_MARKERS = ("_n_buckets",)
TEXTIDX_BUCKETS = 16
_STATS_DIR = "_collection_stats"


def _textidx_legacy_check(spark: SparkSession, index_dir: str) -> None:
    """Raise a descriptive rebuild error when ``index_dir`` holds an
    index stamped with a PRE-positional layout marker."""
    from bert_etl_spark.functions.markers import read_int_marker

    for legacy in _TEXTIDX_LEGACY_MARKERS:
        if read_int_marker(spark, f"{index_dir}/{legacy}") is not None:
            raise ValueError(
                f"text index at {index_dir} was built with the "
                f"pre-positional layout (marker {legacy}) — its posting "
                "rows have no positions column, and appending positional "
                "rows would leave mixed footers the probes mis-read; "
                "rebuild the index (delete the directory and build_or_open"
                ") to migrate"
            )


def _token_bucket(token: str) -> str:
    """SQL text of the posting bucket of ``token`` (a column name or a
    string literal). Over constant query terms it folds to a constant,
    so a probe's ``bucket IN (...)`` is a static PartitionFilter."""
    return f"CAST(pmod(xxhash64({token}), {TEXTIDX_BUCKETS}) AS INT)"


def _sql_str(s: str) -> str:
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _postings_plan(docs: DataFrame) -> DataFrame:
    """(token, doc_id, tf, positions, dl, pkey, bucket) — one row per
    distinct (token, doc); dl denormalized onto the posting so probes
    never join a doc-length side table (the norm-in-posting convention).
    ``positions`` (round-13) are the token's sorted 1-based offsets in
    the document — the POSITIONAL postings phrase/proximity probes join,
    Lucene-style, so a standing corpus answers ad-hoc phrase queries
    from <= |phrase terms| bucket dirs with zero corpus access. Cost at
    rest: Σtf ints instead of Σdistinct-terms rows — the same order as
    the corpus itself, the standard positional-index trade."""
    toked = spread(docs).select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    )
    dl = toked.select("doc_id", F.size("toks").alias("dl"))
    tf = (
        toked.select("doc_id", F.posexplode("toks").alias("pos0", "token"))
        .groupBy("doc_id", "token")
        .agg(
            F.count("*").alias("tf"),
            F.sort_array(F.collect_list(F.col("pos0") + 1)).alias(
                "positions"
            ),
        )
    )
    return (
        tf.join(dl, "doc_id")
        .withColumn("pkey", F.concat_ws("|", "token", "doc_id"))
        .withColumn("bucket", F.expr(_token_bucket("token")))
    )


TEXTIDX = IndexFamily(
    label="text index", marker=_TEXTIDX_MARKER, part_col="bucket",
    key="doc_id", dir_conf=TEXTIDX_DIR_CONF, layout=TEXTIDX_BUCKETS,
    unit="buckets", assign=lambda spark, docs, index_dir, layout: (
        _postings_plan(docs)
    ),
    row_key="pkey",
)


def _write_collection_stats(
    spark: SparkSession, table_dir: str, table: DataFrame | None = None
) -> None:
    """Freeze (n_docs, avgdl) of the postings table at ``table_dir``
    into its ``_collection_stats`` artifact — at build over the index,
    at a refresh-compact over the tmp rewrite the stats swap in with."""
    if table is None:
        table = spark.read.option("basePath", table_dir).parquet(table_dir)
    stats = table.select("doc_id", "dl").distinct().agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    stats.coalesce(1).write.mode("overwrite").parquet(
        f"{table_dir}/{_STATS_DIR}"
    )


def read_collection_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """The frozen (n_docs, avgdl) row, read with its fixed schema — no
    inference job per probe."""
    return spark.read.schema("n_docs bigint, avgdl double").parquet(
        f"{index_dir}/{_STATS_DIR}/*.parquet"
    )


def _textidx_open_or_build(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    docs: DataFrame | None = None,
) -> None:
    """Open the standing text index, or build it from ``docs`` (default:
    the whole documents table) with its collection stats frozen."""
    _textidx_legacy_check(spark, index_dir)
    build_family(
        spark, TEXTIDX, index_dir,
        lambda: _postings_plan(
            tbl(spark, sf_dir, "documents") if docs is None else docs
        ),
        finalize=lambda: _write_collection_stats(
            spark, index_dir,
            read_with_cached_schema(
                spark, index_dir, [index_dir], base_path=index_dir
            ),
        ),
    )


def textidx_ingest(
    spark: SparkSession, batch_docs: DataFrame, index_dir: str
) -> int:
    """Append NEW documents' postings into the standing text index —
    idempotent on pkey (re-delivered docs re-offer identical posting
    rows; the anti-join drops them). Collection statistics stay FROZEN at
    build time (the _codebook contract) until a refresh-compact.
    ``batch_docs``: (doc_id, text)."""
    _textidx_legacy_check(spark, index_dir)
    return family_ingest(spark, TEXTIDX, batch_docs, index_dir)


def textidx_upsert(
    spark: SparkSession, docs: DataFrame, index_dir: str
) -> tuple[int, int]:
    """Re-ingest CHANGED documents atomically — the multi-row keyed
    upsert (upsert_rows, multi_rows=True): a document's OLD postings,
    across every token bucket they occupy, are replaced by the new
    text's postings in ONE partial swap; fresh doc_ids insert; a
    tombstoned doc resurrects atomically. Collection stats stay FROZEN
    (refresh at the fold via textidx_compact(refresh_stats=True)).
    ``docs``: (doc_id, text). Returns (n_docs_replaced, n_docs_inserted)."""
    _textidx_legacy_check(spark, index_dir)
    return family_upsert(spark, TEXTIDX, docs, index_dir)


def textidx_delete(
    spark: SparkSession, doc_keys: DataFrame, index_dir: str
) -> int:
    """Tombstone whole documents out of the text index (one tombstone per
    doc_id masks every posting of the doc; compaction drops them
    physically). ``doc_keys``: any frame with a doc_id column."""
    _textidx_legacy_check(spark, index_dir)
    return family_delete(spark, TEXTIDX, doc_keys, index_dir)


def textidx_compact(
    spark: SparkSession, index_dir: str, refresh_stats: bool = False
) -> int:
    """Compact the posting table to one file per bucket, applying pending
    doc tombstones — the shared crash-safe protocol.

    ``refresh_stats=True`` also RECOMPUTES the frozen collection
    statistics (n_docs, avgdl — the BM25 idf/avgdl inputs stamped at
    build) from the rewritten postings, staged inside tmp so they swap
    in under the SAME ``_compact_pending`` sentinel as the data — the
    staleness cure for an ingest-heavy index: scores after a
    refresh-compact equal a fresh full-corpus build's exactly (tests pin
    that). Default False keeps the frozen-stats contract for callers
    that want build-time reproducibility."""
    _textidx_legacy_check(spark, index_dir)
    return family_compact(
        spark, TEXTIDX, index_dir,
        finalize_tmp=(
            (lambda tmp: _write_collection_stats(spark, tmp))
            if refresh_stats else None
        ),
    )


def bm25_scores_indexed(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> DataFrame:
    """(doc_id, bm25) off the durable posting index: pruned to the query
    terms' bucket dirs by a static PartitionFilter, df derived from the
    pruned postings, frozen collection stats — zero corpus access at
    query time."""
    from bert_etl_spark.operators.index_lifecycle import pruned_scan

    _textidx_open_or_build(spark, sf_dir, index_dir)
    buckets = [_token_bucket(_sql_str(t)) for t in BM25_TERMS]
    scan = pruned_scan(spark, index_dir, "bucket", buckets, key="doc_id")
    cand = scan.where(
        f"token IN ({', '.join(_sql_str(t) for t in BM25_TERMS)})"
    )
    df_tbl = cand.groupBy("token").agg(F.expr("count(*) AS df"))
    stats = read_collection_stats(spark, index_dir)
    # Okapi BM25 as SQL text (one parse); double literals keep the
    # arithmetic in double, as in the oracle
    idf = "ln((n_docs - df + 0.5D) / (df + 0.5D) + 1.0D)"
    tf_part = (
        f"((tf * {BM25_K1 + 1!r}D) / (tf + {BM25_K1!r}D * "
        f"({1 - BM25_B!r}D + {BM25_B!r}D * (CAST(dl AS DOUBLE) / avgdl))))"
    )
    return (
        cand.join(F.broadcast(df_tbl), "token")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.expr(f"{sql_dsum(f'{idf} * {tf_part}')} AS bm25"))
    )


# The INDEXED retrieval path as its own driver-checked contract: same
# oracle as text_bm25_topk, but the Spark side goes build→probe through a
# session-scoped durable index (the sim_index_delete scratch idiom — the
# registered query must run on a vanilla session and must not assume or
# mutate a user's conf'd standing index). The driver hashing this green
# certifies the whole at-rest path: build, marker, frozen stats, bucket
# pruning, df-from-postings, score parity.
@query(
    "text_bm25_indexed",
    oracle=f"""
    WITH {SQL_BM25_CTES}
    SELECT doc_id, bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
               AS rank
    FROM bscore
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOP_K}
    """,
)
def text_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bert_etl_spark.functions.scratch import session_scratch_dir
    from bert_etl_spark.operators.global_order import rank_bounded

    # session-scoped scratch index, removed at interpreter exit
    # (functions/scratch.py — round-11 'low' advice kept, without a
    # rebuild per call; the probe is pure, reopening is free).
    index_dir = session_scratch_dir(spark, "textidx_demo", sf_dir)
    scored = bm25_scores_indexed(spark, sf_dir, index_dir)
    top = scored.orderBy(F.desc("bm25"), "doc_id").limit(BM25_TOP_K)
    return rank_bounded(top, [F.desc("bm25"), F.col("doc_id")], "rank")


# The STATS-REFRESH contract as its own hash gate (round-13 'next round'
# item #2): build the index over HALF the corpus (stats freeze at
# n_docs/avgdl of that half), ingest the other half (textidx_ingest —
# stats still frozen, scores now STALE), then refresh-compact
# (textidx_compact(refresh_stats=True) — stats recomputed from the
# rewritten postings under the swap sentinel). The oracle scores with
# CURRENT full-corpus stats — the same SQL as text_bm25_indexed — so the
# driver hashing this green proves an ingest-heavy index after a
# refresh-compact scores exactly like a fresh full build. Without the
# refresh the frozen half-corpus idf/avgdl mis-score every document and
# the hash fails (the unit test pins that negative too).
@query(
    "text_bm25_indexed_refreshed",
    oracle=f"""
    WITH {SQL_BM25_CTES}
    SELECT doc_id, bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
               AS rank
    FROM bscore
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOP_K}
    """,
)
def text_bm25_indexed_refreshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bert_etl_spark.functions.scratch import session_scratch_dir
    from bert_etl_spark.operators.global_order import rank_bounded

    # a DEDICATED scratch replica (this query MUTATES its index via
    # ingest + compact — never the shared textidx_demo dir, the
    # sim_ivfpq_recall_drift isolation rule)
    index_dir = session_scratch_dir(spark, "textidx_refresh", sf_dir)
    docs = tbl(spark, sf_dir, "documents")
    _textidx_open_or_build(
        spark, sf_dir, index_dir, docs.filter(F.col("doc_id") % 2 == 0)
    )
    # grow the corpus past the frozen stats, then refresh at the fold.
    # Re-runs are no-ops end to end: the ingest anti-join drops every
    # re-offered posting and the refresh recomputes identical stats.
    textidx_ingest(spark, docs.filter(F.col("doc_id") % 2 == 1), index_dir)
    textidx_compact(spark, index_dir, refresh_stats=True)
    scored = bm25_scores_indexed(spark, sf_dir, index_dir)
    top = scored.orderBy(F.desc("bm25"), "doc_id").limit(BM25_TOP_K)
    return rank_bounded(top, [F.desc("bm25"), F.col("doc_id")], "rank")


# Document upsert demo: one doc is deleted and stays dead, another is
# deleted then UPSERTED with new text (resurrect-with-changed-content —
# the edit flow), and a fresh doc inserts; textidx_upsert replaces the
# changed docs' postings across every token bucket they occupy in one
# partial swap (the old delete→full-compact→re-ingest cycle, one
# commit). Scoring contract under the hash gate: tf/dl/df come from the
# LIVE postings (the modified corpus), while n_docs/avgdl stay FROZEN
# at build (the _codebook contract) — the oracle scores the modified
# corpus with original-corpus stats (_sql_bm25_ctes(stats_corpus=...)).
TEXTUP_DEAD = 11  # deleted, never upserted
TEXTUP_CHG = 13  # deleted, then upserted with new text
TEXTUP_NEW = 9_000_013  # fresh doc_id
_TEXTUP_CHG_TEXT = "vector spark dup vector rewrite"
_TEXTUP_NEW_TEXT = "spark spark dup upsert fresh"


@query(
    "text_bm25_indexed_upsert",
    oracle=f"""
    WITH mdocs AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id NOT IN ({TEXTUP_DEAD}, {TEXTUP_CHG})
        UNION ALL SELECT {TEXTUP_CHG}, '{_TEXTUP_CHG_TEXT}'
        UNION ALL SELECT {TEXTUP_NEW}, '{_TEXTUP_NEW_TEXT}'
    ),
    {_sql_bm25_ctes("mdocs", stats_corpus="documents")}
    SELECT doc_id, bm25,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
               AS rank
    FROM bscore
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOP_K}
    """,
)
def text_bm25_indexed_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bert_etl_spark.functions.scratch import session_scratch_dir
    from bert_etl_spark.operators.global_order import rank_bounded

    # dedicated scratch replica (mutating query). Re-runs converge: the
    # dead doc's delete records 0, the changed doc re-tombstones and the
    # deterministic upsert rewrite resurrects it with identical postings
    index_dir = session_scratch_dir(spark, "textidx_upsert", sf_dir)
    _textidx_open_or_build(spark, sf_dir, index_dir)  # full-corpus build
    textidx_delete(
        spark,
        spark.sql(
            f"SELECT explode(array({TEXTUP_DEAD}L, {TEXTUP_CHG}L)) "
            "AS doc_id"
        ),
        index_dir,
    )
    # local_frame (one Python slice): the postings derived from these
    # rows ride through upsert_rows' checkpoints and writes, and a
    # defaultParallelism-sliced local relation pays one Python-worker
    # handshake per slice in every single-task consumer (round-14 §4)
    changed = local_frame(
        spark,
        [(TEXTUP_CHG, _TEXTUP_CHG_TEXT), (TEXTUP_NEW, _TEXTUP_NEW_TEXT)],
        "doc_id long, text string",
    )
    textidx_upsert(spark, changed, index_dir)
    scored = bm25_scores_indexed(spark, sf_dir, index_dir)
    top = scored.orderBy(F.desc("bm25"), "doc_id").limit(BM25_TOP_K)
    return rank_bounded(top, [F.desc("bm25"), F.col("doc_id")], "rank")


def textidx_stream(
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    compact_every: int = 0,
    compact_when_tombstones_over: int = 0,
    refresh_stats_on_compact: bool = False,
):
    """Always-on document ingest (foreachBatch → textidx_ingest), compacting
    in the lane per compaction_due (index_lifecycle.index_stream).
    ``refresh_stats_on_compact=True``: every in-path compaction also
    recomputes the frozen collection stats (textidx_compact's refresh —
    the always-on cure for BM25 staleness under ingest).
    ``stream``: rows (doc_id, text)."""
    return index_stream(
        stream, index_dir, checkpoint_dir, textidx_ingest,
        lambda spark, d: textidx_compact(
            spark, d, refresh_stats=refresh_stats_on_compact
        ),
        compact_every, compact_when_tombstones_over,
    )


# ---------------------------------------------------------------------------
# Phrase search (round-12): exact consecutive-token phrase matching — the
# positional query every lexical engine offers next to bag-of-words BM25.
# Spark-first shape: for a literal phrase the match runs ENTIRELY inside
# whole-stage codegen with higher-order functions — tokenize once, test
# every start offset with element_at equality, count survivors. One
# narrow corpus pass: zero shuffle, zero explode, zero join (the
# positional-self-join form the oracle uses would shuffle |tokens| rows
# per term; the HOF form ships nothing). At 100 TB this composes with
# the quality-gate pattern: the phrase test is just another pushed-down
# per-row expression. Indexed phrase search (positions stored in the
# durable postings) is the natural extension when the phrase set is
# dynamic. Reference analog: none — the reference has no text operators;
# capability extension per SURVEY §2B.
# ---------------------------------------------------------------------------

PHRASE_TERMS = ("table", "hash")


def phrase_count(text: F.Column, phrase: tuple[str, ...]) -> F.Column:
    """Occurrences of the consecutive-token ``phrase`` in ``text`` as a
    single codegen'd expression (whitespace tokens, exact equality).
    Guard first: Spark's sequence(1, n-L+1) turns DESCENDING when the
    document is shorter than the phrase — short docs short-circuit to 0."""
    toks = tokenize(text)
    n = F.size(toks)
    length = len(phrase)
    starts = F.sequence(F.lit(1), n - F.lit(length - 1))

    def _match(i):
        cond = F.element_at(toks, i) == phrase[0]
        for j in range(1, length):
            cond = cond & (F.element_at(toks, i + F.lit(j)) == phrase[j])
        return cond

    counted = F.size(F.filter(starts, _match))
    return F.when(n >= length, counted).otherwise(F.lit(0)).cast("bigint")


@query(
    "text_phrase_search",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(trim(text), ' ')) AS token,
               unnest(range(1, len(string_split(trim(text), ' ')) + 1)) AS pos
        FROM documents
    )
    SELECT t1.doc_id, COUNT(*) AS n_occurrences
    FROM tok t1
    JOIN tok t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
    WHERE t1.token = '{PHRASE_TERMS[0]}' AND t2.token = '{PHRASE_TERMS[1]}'
    GROUP BY t1.doc_id
    """,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-14 note: deliberately NOT spread_scan'd. The n_occurrences>0
    # filter references the phrase-count expression, and predicate
    # pushdown moves that filter (and with it the whole HOF evaluation)
    # below any round-robin exchange, back onto the single-split scan —
    # measured: the spread form still ran 1.4 s in one task. Every
    # barrier that would hold the filter above the exchange (persist,
    # checkpoint, explode-as-filter) breaks the pinned one-pass
    # zero-exchange contract that IS this operator's 100 TB design; at
    # scale the scan splits naturally and the plan parallelizes as-is.
    docs = tbl(spark, sf_dir, "documents")
    cnt = phrase_count(F.col("text"), PHRASE_TERMS)
    return (
        docs.select("doc_id", cnt.alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


# Proximity search (NEAR/slop): the phrase test relaxed to "second term
# within W tokens after the first" — same pure-codegen HOF shape, the
# window test an exists() over the slop range instead of one equality.
PROXIMITY_SLOP = 3  # t2 within 1..SLOP positions after t1


@query(
    "text_proximity_search",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(trim(text), ' ')) AS token,
               unnest(range(1, len(string_split(trim(text), ' ')) + 1)) AS pos
        FROM documents
    )
    SELECT t1.doc_id, COUNT(*) AS n_pairs
    FROM tok t1
    JOIN tok t2 ON t2.doc_id = t1.doc_id
        AND t2.pos BETWEEN t1.pos + 1 AND t1.pos + {PROXIMITY_SLOP}
    WHERE t1.token = '{PHRASE_TERMS[0]}' AND t2.token = '{PHRASE_TERMS[1]}'
    GROUP BY t1.doc_id
    """,
)
def text_proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately not spread_scan'd — see text_phrase_search (round-14)
    docs = tbl(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    n = F.size(toks)
    first, second = PHRASE_TERMS
    # count (i, j) pairs with toks[i]=first, toks[j]=second, i<j<=i+SLOP:
    # for each start offset, count the matching slop offsets — a nested
    # HOF aggregate, still one codegen'd expression over one scan
    # outer offsets stop at n-1: at i = n the inner sequence(i+1, n)
    # would invert (Spark sequences turn DESCENDING when start > stop)
    # and index past the array — the phrase_count guard's nested twin
    pair_count = F.aggregate(
        F.sequence(F.lit(1), n - F.lit(1)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            F.element_at(toks, i) == first,
            F.size(
                F.filter(
                    F.sequence(
                        i + F.lit(1), F.least(i + F.lit(PROXIMITY_SLOP), n)
                    ),
                    lambda j: F.element_at(toks, j) == second,
                )
            ),
        ).otherwise(F.lit(0)),
    )
    cnt = F.when(n >= 2, pair_count).otherwise(F.lit(0)).cast("bigint")
    return (
        docs.select("doc_id", cnt.alias("n_pairs"))
        .filter(F.col("n_pairs") > 0)
    )


# ---------------------------------------------------------------------------
# INDEXED phrase / proximity search (round-13): the corpus-scan forms above
# are the right shape when the phrase rides a quality-gate pipeline; a
# RAG/search user issuing ad-hoc phrase queries against a STANDING corpus
# needs the positions in the durable postings. The probe reads ONLY the
# phrase terms' bucket dirs (<= |terms| partition dirs, a static
# PartitionFilter), joins the two terms' position arrays per doc_id, and
# counts adjacency / slop matches with one HOF expression — zero corpus
# access, zero tokenize. Identical semantics to the scan forms by construction: the
# index stores tokenize()'s own 1-based offsets, so "p+1 ∈ P2" IS
# "toks[i]=t1 ∧ toks[i+1]=t2". Oracle: the same positional self-join SQL
# the scan forms already hash against.
# ---------------------------------------------------------------------------


def _positional_postings(
    spark: SparkSession, sf_dir: str, index_dir: str, terms: tuple[str, ...]
) -> DataFrame:
    """(doc_id, p0 … p{n-1}): the n phrase terms' position arrays joined
    per doc, off the pruned durable postings (tombstones masked) — the
    probe reads ≤ n bucket dirs regardless of phrase length. Each join
    is an equi-join of two single-token posting sets on doc_id, and the
    chain shrinks monotonically (a doc must hold EVERY term to survive),
    so the n-term phrase costs n−1 tiny joins, never a corpus pass."""
    from bert_etl_spark.operators.index_lifecycle import pruned_scan

    _textidx_open_or_build(spark, sf_dir, index_dir)
    buckets = [_token_bucket(_sql_str(t)) for t in terms]
    scan = pruned_scan(spark, index_dir, "bucket", buckets, key="doc_id")
    if "positions" not in scan.columns:
        raise ValueError(
            f"text index at {index_dir} predates positional postings — "
            "rebuild it (point the conf at a fresh dir) to serve indexed "
            "phrase/proximity queries"
        )
    out = None
    for i, t in enumerate(terms):
        side = scan.where(f"token = {_sql_str(t)}").selectExpr(
            "doc_id", f"positions AS p{i}"
        )
        out = side if out is None else out.join(side, "doc_id")
    return out


def _phrase_count_indexed(n_terms: int) -> str:
    """SQL text: occurrences of the n-term consecutive phrase over the
    joined position arrays p0 … p{n-1}: count p ∈ p0 with p+i ∈ p{i} for
    every following term — one HOF expression, the positional twin of
    phrase_count's offset test."""
    cond = " AND ".join(
        f"array_contains(p{i}, p + {i})" for i in range(1, n_terms)
    )
    return f"CAST(size(filter(p0, p -> {cond})) AS BIGINT)"


@query(
    "text_phrase_search_indexed",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(trim(text), ' ')) AS token,
               unnest(range(1, len(string_split(trim(text), ' ')) + 1)) AS pos
        FROM documents
    )
    SELECT t1.doc_id, COUNT(*) AS n_occurrences
    FROM tok t1
    JOIN tok t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
    WHERE t1.token = '{PHRASE_TERMS[0]}' AND t2.token = '{PHRASE_TERMS[1]}'
    GROUP BY t1.doc_id
    """,
)
def text_phrase_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bert_etl_spark.functions.scratch import session_scratch_dir

    index_dir = TEXTIDX.index_dir(spark) or session_scratch_dir(
        spark, "textidx_demo", sf_dir
    )
    pp = _positional_postings(spark, sf_dir, index_dir, PHRASE_TERMS)
    cnt = _phrase_count_indexed(len(PHRASE_TERMS))
    return pp.selectExpr("doc_id", f"{cnt} AS n_occurrences").where(
        "n_occurrences > 0"
    )


@query(
    "text_proximity_search_indexed",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(trim(text), ' ')) AS token,
               unnest(range(1, len(string_split(trim(text), ' ')) + 1)) AS pos
        FROM documents
    )
    SELECT t1.doc_id, COUNT(*) AS n_pairs
    FROM tok t1
    JOIN tok t2 ON t2.doc_id = t1.doc_id
        AND t2.pos BETWEEN t1.pos + 1 AND t1.pos + {PROXIMITY_SLOP}
    WHERE t1.token = '{PHRASE_TERMS[0]}' AND t2.token = '{PHRASE_TERMS[1]}'
    GROUP BY t1.doc_id
    """,
)
def text_proximity_search_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from bert_etl_spark.functions.scratch import session_scratch_dir

    index_dir = TEXTIDX.index_dir(spark) or session_scratch_dir(
        spark, "textidx_demo", sf_dir
    )
    pp = _positional_postings(spark, sf_dir, index_dir, PHRASE_TERMS)
    pairs = (
        "CAST(aggregate(p0, 0, (acc, p) -> acc + size(filter(p1, "
        f"q -> q > p AND q <= p + {PROXIMITY_SLOP}))) AS BIGINT)"
    )
    return pp.selectExpr("doc_id", f"{pairs} AS n_pairs").where(
        "n_pairs > 0"
    )


# n-term generality of the positional probe: a 3-term phrase reads ≤3
# bucket dirs and pays 2 posting joins — the probe cost scales with the
# PHRASE, never the corpus. The trigram is chosen to have hits at every
# test scale factor.
PHRASE3_TERMS = ("stream", "table", "hash")


@query(
    "text_phrase3_search_indexed",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(trim(text), ' ')) AS token,
               unnest(range(1, len(string_split(trim(text), ' ')) + 1)) AS pos
        FROM documents
    )
    SELECT t1.doc_id, COUNT(*) AS n_occurrences
    FROM tok t1
    JOIN tok t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
    JOIN tok t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
    WHERE t1.token = '{PHRASE3_TERMS[0]}'
      AND t2.token = '{PHRASE3_TERMS[1]}'
      AND t3.token = '{PHRASE3_TERMS[2]}'
    GROUP BY t1.doc_id
    """,
)
def text_phrase3_search_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from bert_etl_spark.functions.scratch import session_scratch_dir

    index_dir = TEXTIDX.index_dir(spark) or session_scratch_dir(
        spark, "textidx_demo", sf_dir
    )
    pp = _positional_postings(spark, sf_dir, index_dir, PHRASE3_TERMS)
    cnt = _phrase_count_indexed(len(PHRASE3_TERMS))
    return pp.selectExpr("doc_id", f"{cnt} AS n_occurrences").where(
        "n_occurrences > 0"
    )
