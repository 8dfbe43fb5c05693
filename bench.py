"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints one COMPACT summary line (metric/value/unit/sf, no per-query
map) followed by the full JSON line, LAST, which is the line a caller
parses for per-query timings:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
The complete per-query map is also written to BENCH_detail_c{N}.json,
N the run's core count, so runs at different core counts keep separate
files ($SPARK_GRAFT_BENCH_OUT overrides the path).

Each query executes end-to-end via the noop sink (full computation, no
driver-side collect overhead).
"""

from __future__ import annotations

import json
import os
import sys
import time

from bert_etl_spark.operators import registry
from bert_etl_spark.session import get_spark

# Headline set: one representative per capability area. Names not yet
# registered are skipped (list grows with coverage).
HEADLINE = [
    "revenue_by_nation",      # multi-join + agg flagship
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier", # correlated dim paths, 6-way join
    "tpch_q6_forecast_revenue",  # pure scan-filter-agg pushdown
    "tpch_q10_returned_items",
    "tpch_q13_order_distribution",  # left join + agg-of-agg
    "tpch_q18_large_volume",  # agg-before-join + HAVING
    "tpch_q2_min_cost_supplier",  # correlated scalar MIN decorrelation
    "tpch_q9_product_profit", # 4 broadcast dims + orderkey shuffle
    "tpch_q21_waiting_suppliers",  # EXISTS + NOT EXISTS decorrelation
    "pricing_summary",        # wide-agg single scan
    "merge_upsert",           # MERGE/SCD emulation
    "join_inner",             # big-big shuffle join
    "join_asof",              # window-based as-of join
    "join_anti",              # dedup-ledger pattern
    "join_skew_salted",       # explicit skew mitigation
    "agg_corr_deterministic", # exact-decimal co-moments
    "agg_distinct",           # two-phase distinct agg
    "agg_rollup",             # grouping sets
    "window_topk_per_group",  # ranked window
    "window_sessionize",      # gap sessionization
    "window_event_tumbling",  # event-time windows
    "timeseries_gapfill",     # grid gen + forward fill
    "attribution_last_touch", # as-of window carry, no self-join
    "funnel_conversion",      # ordered-stage funnel
    "cohort_retention",       # first-touch cohorts
    "scalar_json",            # JSON path extraction
    "scalar_hash",            # content identity
    "dedup_exact",            # exact dedup
    # family order matters: ngram_jaccard materializes the shared shingle
    # and pair tables (registry.checkpoint_once) that the LSH and
    # clustering queries then reuse — the bench measures the realistic
    # pipeline (build once, reuse thrice), not three cold rebuilds
    "dedup_ngram_jaccard",    # shingle jaccard (builds shingle cache)
    "dedup_minhash_lsh",      # near-dup at scale
    "dedup_cluster_components",  # iterative label propagation
    "sim_topk_bruteforce",    # cosine top-k
    "sim_lsh_bucketed",       # ANN scale path
    "sim_ivf",                # IVF probe path
    "text_tfidf_top_terms",   # tf-idf
    "text_quality_score",     # quality scoring
    "text_quality_gate",      # corpus quality filter + per-source yield
    "text_perplexity_score",  # bigram-LM surprisal filter
    "corpus_contamination_check",  # broadcast shingle probe
    "corpus_chunk_windows",   # zero-shuffle sliding chunks
    "corpus_pack_sequences",  # windowed-cumsum token packing
    "scd2_dimension_history", # type-2 dimension versioning window
    "agg_weighted_stats",     # decimal-exact weighted moments
    "agg_entropy",            # behavioral diversity per user
    "events_transition_matrix",  # Markov next-event shares
    "join_asof_tolerance",    # bounded-staleness as-of carry
    "sim_pq_adc",             # product-quantization ADC probe
    "multimodal_dedup_exact", # header-hash prefilter + full-hash verify
    "text_repetition_filter", # Gopher-style top-bigram gate
    "corpus_token_budget_select",  # budget-capped quality selection
    "corpus_prep_pipeline",   # follow-chain end-to-end prep
    "dedup_containment",      # asymmetric excerpt detection
    "dedup_semantic_clusters",  # cosine pairs + connected components
    "text_vocab_coverage",    # top-V vocab OOV audit
    "anomaly_mad_outliers",   # robust MAD z-score
    "events_dau_wau",         # stickiness range join
    "timeseries_lag_returns",  # first-difference volatility
    "agg_bitmap_distinct",    # exact mergeable bitmap distinct
    "incremental_agg_merge",  # partial-state rollup maintenance
    "join_fuzzy_levenshtein", # blocked entity resolution
    "histogram_equi_depth",   # ntile decile buckets
    "agg_first_last_event",   # journey endpoints, single pass
    "timeseries_seasonality", # hour x dow load shape
    "sim_recall_eval",        # ANN recall@k vs ground truth
    "join_dim_snapshot_asof", # temporal SCD2 version lookup
    "timeseries_hierarchy_rollup",  # y/m/d grouping-sets ladder
    "events_rfm_segments",    # RFM quintile scoring
    "window_gaps_islands",    # streak detection, one window
    "text_ngram_novelty",     # split-aware shingle anti-probe
    "corpus_mix_temperature", # source-mix weights
    "embedding_quantize_int8",  # calibrate-then-quantize two-pass
    "graph_triangle_count",   # degree-oriented wedge join
    "profile_columns",        # one-scan multi-column profiling
    "multimodal_decode",      # Arrow-batched Pandas-UDF boundary
    "multimodal_audio_features",  # PCM stub decode via mapInPandas
    "pandas_max_gap",         # applyInPandas grouped Python
    "source_bucketed_join",   # bucketed write + zero-exchange co-located join
    "window_distribution",    # distributed exact percent_rank/cume_dist
    "source_json_scan",       # JSON shard round-trip scan
    "source_jdbc_scan",       # partitioned JDBC range scan (embedded Derby)
    "dedup_simhash_md5",      # portable-hash simhash, banded Hamming pairs
    "events_path_trigrams",   # next-event path analysis
    "corpus_importance_resample",  # target-mix importance resampling
    "dedup_embedding_cosine", # 2-D tiled Arrow-batch cosine near-pairs
    "dedup_minhash_incremental",  # batch-vs-index LSH probe (no self-join)
    "corpus_global_shuffle",  # deterministic training-order permutation
    "streaming_lsh_ledger",   # always-on LSH ingest (foreachBatch epochs)
    "dedup_substring_spans",  # exact substring dedup (Lee et al. k-windows)
    "dedup_substring_doc_stats",  # per-doc duplicated-token budget
    "dedup_substring_remove",  # span cut via higher-order filter (no explode)
    "dedup_substring_remove_keep_first",  # keep-one span cut (arg-min exempt)
    "corpus_decontaminate",   # eval-overlap filter (broadcast probe + roster)
    "graph_pagerank_iter",    # one damped power step, exact decimal reduce
    "graph_pagerank_k_iters",  # lazy power loop (5 iterations, one action)
    "source_orc_scan",        # ORC round-trip with pushed filter
    "source_partitioned_scan",  # hive-layout write + partition pruning
    "text_bpe_merge_candidates",  # BPE training step over vocab, not corpus
    "text_bpe_train_steps",   # argmax-merge-recount loop (3 merges)
    "text_bpe_encode",        # apply trained merges: vocab-first corpus encode
    "sink_compaction",        # small-files rewrite, Hadoop-FS sized
    "multimodal_dedup_phash",  # dHash + banded Hamming (perceptual near-dup)
    "sim_maxsim_topk",        # late-interaction MaxSim (multi-vector docs)
    "graph_label_propagation",  # k-round community detection (struct argmax)
    "sim_maxsim_ivf",         # cell-pruned MaxSim (equi-join probe)
    "graph_connected_components",  # pointer-doubling CC on shared edges
    "sim_maxsim_recall",      # pruned-vs-exact MaxSim recall@k
    "sketch_quantile_mergeable",  # GK-style quantile sketch vs exact
    "streaming_windowed_quantiles",  # sketch state merged across batches
    "graph_degree_distribution",  # hub/skew diagnostic, two partial aggs
    # round-9 family representatives
    "dedup_containment_banded",  # pair-anchored LSH-assisted containment
    "graph_kcore",            # unrolled peeling on the shared edge table
    "sim_embedding_outliers",  # centroid-distance vector quality gate
    "text_source_boilerplate_prefix",  # LCP(min,max) template detection
    "sketch_countmin_heavy_hitters",  # deterministic CMS vs exact top-K
    "join_bloom_prefilter",   # pre-shuffle bloom pruning audit
    "profile_correlations",   # one-pass decimal Pearson matrix
    "layout_zorder_audit",    # z-curve vs linear skipping envelopes
    "streaming_countmin_merge",  # per-epoch CMS sketches merged cell-wise
    "profile_key_skew",       # hot-key share pre-join audit
    "source_schema_evolution",  # mergeSchema drift round-trip
    "privacy_k_anonymity",    # quasi-identifier linkage-risk gate
    "graph_jaccard_similarity",  # common-neighbor link prediction
    "corpus_decontaminate_fuzzy",  # minhash-banded eval-leak removal
    "timeseries_cusum_drift",  # prefix-form sequential change-point
    "sim_maxsim_incremental",  # new-arrival probe of the at-rest index
    # round-10 family representatives
    "layout_zorder_write",    # production z-order path: one range shuffle
    "graph_triangle_count_capped",  # degree-capped wedge join (hub exclusion)
    "sim_lsh_index_probe",    # standing sign-LSH bucket index, probed
    "profile_salt_advisor",   # skew audit -> exact per-key salt plan
    # round-11 family representatives
    "join_salted_advised",    # advisor-driven per-key salted join
    "sim_index_stats",        # index occupancy over the at-rest assignment
    "sim_topk_filtered",      # filtered ANN: predicate pushed below scoring
    "streaming_maxsim_scoring",  # always-on arrival scoring vs standing index
    "sim_ivf_filtered",       # cell pruning + payload predicate composed
    # round-11 second wave
    "text_bm25_topk",         # inverted-index BM25 lexical retrieval
    "sim_hybrid_rrf",         # dense+lexical reciprocal-rank fusion
    "dedup_allpairs_prefix",  # lossless exact-threshold prefix-filter join
    "graph_bfs_hops",         # multi-source bounded BFS over shared edges
    "cdc_snapshot_diff",      # fingerprinted I/U/D snapshot diff
    "sim_index_delete",       # tombstone-masked probe of the durable index
    "sim_mmr_diversify",      # MMR re-rank of the retrieval pool
    "streaming_cdc_apply",    # LSN-argmax CDC merge into a keyed table
    "sim_hard_negatives",     # label-mismatch top-k contrastive mining
    "graph_modularity",       # partition quality of the LPA labeling
    "profile_mutual_information",  # exact categorical MI, one scan
    "text_bm25_indexed",      # BM25 off the durable posting index
    "window_rolling_median",  # constant-frame robust smoothing
    "corpus_span_corruption", # T5-style deterministic span mask table
    # round-12 family representatives
    "sim_ivfpq_probe",        # durable IVF-PQ composite: pruned cells + ADC
    "sim_ivfpq_recall",       # compression-cost recall vs brute force
    "sim_hybrid_rrf_indexed", # RRF fusion of two INDEX probes, zero corpus
    "sim_mmr_batch",          # per-query-group greedy MMR in applyInPandas
    "sim_ivfpq_rerank",       # ADC shortlist -> exact re-rank (3rd stage)
    "sim_ivfpq_filtered",     # payload predicate composed into the ADC probe
    "text_phrase_search",     # consecutive-token phrase match, pure codegen
    "text_proximity_search",  # NEAR/slop variant, nested HOF aggregate
    # round-13 family representatives
    "text_phrase_search_indexed",  # positional postings probe, zero corpus
    "text_proximity_search_indexed",  # slop variant off the same postings
    "sim_mmr_batch_indexed",  # MMR pool off the durable IVF-PQ shortlist
    "sim_ivfpq_recall_drift", # frozen-quantizer decay audit under ingest
    "streaming_cdc_apply_folded",  # CDC apply with in-path log folds
    "streaming_cdc_lookup",   # bucket-pruned point read of the CDC state
    "text_phrase3_search_indexed",  # n-term phrase: <=n buckets, n-1 joins
    "sim_ivfpq_rebuild_recovery",  # in-place quantizer re-train (r14)
    "sim_ivf_rebuild_recovery",  # vector-at-rest family rebuild (r14)
    "text_bm25_indexed_refreshed",  # stats refresh at the fold (r14)
    "streaming_cdc_rebucket",  # in-place bucket-modulus migration (r14)
    "streaming_cdc_schema_evolution",  # payload column growth mid-stream (r14)
    "sim_lsh_rebuild_migrate",  # in-place plane-count migration (r14)
    "sim_ivf_upsert_refresh",  # keyed in-place upsert via partial swap (r14)
    "streaming_cdc_index_sync",  # CDC op log -> ANN index convergence (r14)
    "text_bm25_indexed_upsert",  # atomic document re-ingest, multi-bucket (r14)
]


def _storage_note(spark) -> str:
    """One-line cache telemetry for stderr: how many RDDs are persisted and
    how much storage memory/disk they hold. Emitted with every timed
    sample so cross-round drift (e.g. a query slowing down with no code
    change) can be attributed to — or exonerated from — cache pressure,
    and so RETRY lines show exactly which shared family caches were warm."""
    try:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        mem = sum(i.memSize() for i in infos) / 1e6
        disk = sum(i.diskSize() for i in infos) / 1e6
        return f"[cached_rdds={len(infos)} mem_mb={mem:.0f} disk_mb={disk:.0f}]"
    except Exception:
        return "[storage=?]"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # dev loop: SPARK_GRAFT_ONLY=q1,q2 times just those headline queries
    only = os.environ.get("SPARK_GRAFT_ONLY")
    headline = (
        [q for q in HEADLINE if q in set(only.split(","))] if only else HEADLINE
    )
    registry.load_all()
    spark = get_spark(app_name="bert_etl_spark_bench")

    # JVM/codegen warmup + parquet footer/listing warm-up per table so the
    # first timed query doesn't absorb one-time metadata costs
    spark.range(1000).selectExpr("sum(id)").collect()
    for name in ("lineitem", "orders", "customer", "events", "documents", "embeddings",
                 "part", "supplier", "nation", "region"):
        try:
            # registry.tbl, not a raw read: events.parquet is TIMESTAMP(NANOS)
            # and needs the nanosAsLong conf tbl() sets — a raw read here
            # fails the task and leaves ERROR lines in the bench log
            registry.tbl(spark, sf_dir, name).limit(1).collect()
        except Exception as ex:
            print(
                f"TABLE WARMUP FAILED: {name}: {type(ex).__name__}",
                file=sys.stderr,
            )
    # steady-state warmup: run every headline plan once at the SMALLEST SF
    # so whole-stage-codegen compilation (janino, per plan shape — identical
    # across SFs) happens before the timed pass. The timed run below still
    # executes the full computation at $SPARK_GRAFT_SF_DIR; only one-time
    # compile cost is excluded, as in any steady-state throughput benchmark.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in headline:
            fn = registry.ALL_QUERIES.get(name)
            if fn is None:
                continue
            try:
                fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception as ex:
                # a silently-failed warmup runs its timed pass cold (codegen
                # included) — surface it so the timing isn't misread
                print(
                    f"WARMUP FAILED: {name}: {type(ex).__name__}: "
                    f"{(str(ex).splitlines() or [''])[0][:200]}",
                    file=sys.stderr,
                )
        # drop sf0.001 caches so the timed pass measures sf_dir work only
        registry.release_internals()
        spark.catalog.clearCache()

    # Two full suite passes, per-query minimum: this box exhibits a random
    # ~6 s stall that lands on one arbitrary query per pass; min-of-2 keeps
    # it out of the headline. Cache is cleared BETWEEN passes — catalog
    # cache AND the checkpoint_once family memos (round-15 measurement
    # fix: the memoized localCheckpoint tables survive clearCache(), so
    # pass 2's family-builder queries were timed against pass 1's warm
    # build; with both cleared, each pass preserves the intended
    # intra-pass sharing — the dedup family builds shingles once and
    # reuses them — while min-of-2 measures two honest builds). The
    # session-scoped scratch INDEX dirs are deliberately NOT cleared:
    # "probe a standing index" is those operators' declared semantics.
    # One failing query must not zero out the round's entire evidence
    # (round 3: a single AnalysisException aborted bench before any number
    # was printed). Failures are recorded per-query and the run continues.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for _pass in range(2):
        spark.catalog.clearCache()
        registry.release_shared_checkpoints()
        for name in headline:
            fn = registry.ALL_QUERIES.get(name)
            if fn is None:
                continue
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as ex:
                # (str(ex).splitlines() or ['']): an empty exception message
                # must not make the error handler itself raise IndexError
                errors[name] = (
                    f"{type(ex).__name__}: {(str(ex).splitlines() or [''])[0][:200]}"
                )
                print(f"QUERY FAILED: {name}: {errors[name]}", file=sys.stderr)
                registry.release_internals()
                continue
            elapsed = round(time.perf_counter() - t0, 3)
            # per-pass raw timing on stderr: the headline JSON keeps only the
            # min, but diagnosing a within-session slowdown needs the trend;
            # the storage note attributes/exonerates cache pressure per sample
            print(
                f"PASS {_pass} {name} {elapsed} {_storage_note(spark)}",
                file=sys.stderr,
            )
            timings[name] = min(timings.get(name, elapsed), elapsed)
            # free per-query persisted internals (global-order ranged
            # copies, LSH bands, ...) outside the timed region; the O(1)
            # family-shared tables (shingles/jaccard edges) stay cached
            registry.release_internals()

    # Stall-robust retry: this box exhibits random multi-second stalls that
    # can land on BOTH passes of one query (observed: a 3 s query timed at
    # 37 s with min-of-2). Any query whose min is still above the threshold
    # gets ONE more attempt — cheap, because only the handful of genuinely-
    # heavy queries qualify. Exactly one attempt: a second back-to-back
    # attempt of the same query would see the shared caches (shingles) its
    # first attempt built and under-report the family builder's real cost.
    # The retry phase is a PARTIAL PASS: cache cleared once up front and
    # queries processed in headline order, so the dedup family's
    # build-shingles-once-reuse-thrice semantics match the timed passes
    # (clearing per retry would instead time every family member cold).
    RETRY_ABOVE_S = 2.5
    if any(t > RETRY_ABOVE_S for t in timings.values()):
        spark.catalog.clearCache()
    for name in headline:
        if timings.get(name, 0.0) <= RETRY_ABOVE_S:
            continue
        fn = registry.ALL_QUERIES.get(name)
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            registry.release_internals()
            continue
        elapsed = round(time.perf_counter() - t0, 3)
        # the storage note makes each RETRY interpretable: it records which
        # shared family caches (shingles, jaccard edges) were already warm
        # when this sample ran, without cold-restarting the family per retry
        print(f"RETRY {name} {elapsed} {_storage_note(spark)}", file=sys.stderr)
        registry.release_internals()
        timings[name] = min(timings[name], elapsed)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        result["errors"] = errors
    # COMPACT summary line first (metric/value/unit/sf only), then the
    # full line LAST: the per-query map is what a caller parses from the
    # final line, and the compact line keeps the headline total readable
    # in a tail window that cuts the ~5 KB full line short.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "sf": result["sf"],
            }
        )
    )
    print(json.dumps(result))
    sys.stdout.flush()
    # full per-query detail to a file per core count: a run at 8 cores
    # must not overwrite the 32-core detail
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            f"BENCH_detail_c{spark.sparkContext.defaultParallelism}.json",
        ),
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as ex:
        print(f"BENCH DETAIL WRITE FAILED: {ex}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
