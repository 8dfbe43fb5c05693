"""Wall-clock per-verb timing of one query with ZERO profiler overhead:
wraps named functions in timing shims (one perf_counter pair per call),
runs the query cold + warm, prints the call log.

Usage: python tools/r14_steps.py <query> [sf_dir]
"""

from __future__ import annotations

import functools
import os
import sys
import time

LOG: list[tuple[str, float]] = []


def _wrap(mod, name):
    fn = getattr(mod, name, None)
    if fn is None or not callable(fn):
        return

    @functools.wraps(fn)
    def shim(*a, **k):
        t0 = time.perf_counter()
        try:
            return fn(*a, **k)
        finally:
            LOG.append((f"{mod.__name__.split('.')[-1]}.{name}",
                        time.perf_counter() - t0))

    setattr(mod, name, shim)


def main() -> None:
    qname = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    from bert_etl_spark.operators import registry
    from bert_etl_spark.session import get_spark

    registry.load_all()
    from bert_etl_spark.operators import (
        index_lifecycle as IL,
        similarity as S,
        text as T,
    )
    from bert_etl_spark.streaming import events as E

    for m, names in (
        (IL, ["build_index", "ingest_rows", "upsert_rows", "delete_keys",
              "delete_keys_by_map", "compact_index", "open_index",
              "finish_compaction_swap", "keymap_record", "keymap_lookup",
              "apply_tombstones", "physical_pruned_scan"]),
        (S, ["ivfpq_build_or_open", "ivfpq_index_ingest", "ivfpq_index_delete",
             "ivfpq_index_rebuild", "ivfpq_index_upsert", "_ivfpq_topk",
             "_ivfpq_adc", "read_pq_codebook", "read_codebook",
             "_pq_codes", "_argmax_cell",
             "_ivf_assign", "_ivf_topk", "ivf_index_ingest",
             "ivf_index_delete", "ivf_index_rebuild", "ivf_index_upsert",
             "_prepared", "_pq_codebook_frame", "_ivf_centroids",
             "_write_codebook", "_codebook_frame"]),
        (T, ["textidx_build_or_open", "textidx_ingest", "textidx_compact",
             "textidx_upsert", "textidx_delete", "bm25_scores_indexed"]),
        (E, ["cdc_apply_stream", "cdc_compact_state", "latest_cdc_state",
             "cdc_lookup", "cdc_rebucket", "cdc_index_sync",
             "_cdc_read_log"]),
    ):
        for n in names:
            _wrap(m, n)

    spark = get_spark(app_name=f"steps_{qname}")
    fn = registry.ALL_QUERIES[qname]
    spark.range(1000).selectExpr("sum(id)").collect()
    warm = "/root/testdata/sf0.001"
    if os.path.isdir(warm) and warm != sf_dir:
        fn(spark, warm).write.format("noop").mode("overwrite").save()
        registry.release_internals()
        spark.catalog.clearCache()
        LOG.clear()
    for tag in ("COLD", "WARM"):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        total = time.perf_counter() - t0
        registry.release_internals()
        print(f"\n=== {qname} {tag}: {total:.2f}s ===")
        for name, dt in LOG:
            if dt >= 0.05:
                print(f"  {dt:6.2f}  {name}")
        LOG.clear()
    spark.stop()


if __name__ == "__main__":
    main()
