"""Durable-index ingest cost vs index size — the round-12 flatness proof
for operators/index_lifecycle.ingest_rows.

The scale question (round-11 VERDICT, top ask): the across-batch
anti-join used to read the key column of EVERY partition per micro-batch
(O(index) per trigger, forever, for an always-on ingest). The round-12
fix prunes it to the partitions the batch touches (deterministic
assignment ⇒ a duplicate can only live in the batch row's own
partition). This bench measures the SAME small-batch ingest against
pre-seeded indexes of growing size, twice:

- ``pruned``: the shipped ingest_rows (anti-join over touched dirs);
- ``fullscan``: the round-11 shape, reproduced inline (anti-join over
  the whole index's key column) — the control the fix retires.

Flat ``pruned`` seconds as rows grow 100x, against a growing
``fullscan`` curve, is the proof. Results land in SCALING.md.

Isolation: each (rows, variant) case runs in its OWN subprocess/JVM
(the ledger_ingest_bench lesson: a 20M-row case polluting the next
case's JVM inverts the curve).

Usage: python tools/index_ingest_bench.py [rows_csv]
       (default: 200000,2000000,20000000)
Emits one JSON line per case: {"rows": N, "variant": ..., "sec": min3}.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

# 512 partitions: a production ANN index quantizes into hundreds-to-
# thousands of cells, so a trickle batch touches a few percent of the
# dirs — the fraction the pruning exists to exploit. (At 64 parts a
# 32-row batch touches ~40% of the index and the curve flattens for the
# wrong reason.)
N_PARTS = 512
BATCH = 32  # a trickle micro-batch: the always-on steady state
MARKER = "_n_centroids"


def run_case(rows: int, variant: str) -> None:
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from pyspark.sql import functions as F

    from bert_etl_spark.operators import index_lifecycle as life
    from bert_etl_spark.session import get_spark

    spark = get_spark()
    work = tempfile.mkdtemp(prefix="idx_ingest_bench_")
    idx = f"{work}/idx"
    try:
        seed = spark.range(rows).select(
            F.col("id").alias("vec_id"),
            F.pmod(F.xxhash64("id"), F.lit(N_PARTS)).cast("int").alias("cell"),
        )
        life.build_index(spark, idx, MARKER, N_PARTS, seed, "cell", N_PARTS)

        def batch(i: int):
            # half genuinely new keys, half re-delivered duplicates —
            # the anti-join has real work on every run
            fresh = spark.range(BATCH // 2).select(
                (F.col("id") + 10_000_000_000 + i * BATCH).alias("vec_id")
            )
            dup = spark.range(BATCH // 2).select(
                (F.col("id") + (i * 97) % max(rows - BATCH, 1)).alias("vec_id")
            )
            return fresh.unionAll(dup).select(
                "vec_id",
                F.pmod(F.xxhash64("vec_id"), F.lit(N_PARTS))
                .cast("int")
                .alias("cell"),
            )

        def ingest_fullscan(b) -> int:
            # the round-11 shape: slim key column of the WHOLE index
            table_keys = (
                spark.read.option("basePath", idx).parquet(idx).select("vec_id")
            )
            fresh = (
                b.dropDuplicates(["vec_id"])
                .join(table_keys, "vec_id", "left_anti")
                .localCheckpoint(eager=True)
            )
            n = fresh.count()
            if n:
                fresh.repartition(N_PARTS, "cell").write.partitionBy(
                    "cell"
                ).mode("append").parquet(idx)
            return n

        times = []
        for i in range(4):  # first is warmup
            b = batch(i)
            t0 = time.perf_counter()
            if variant == "pruned":
                life.ingest_rows(spark, idx, MARKER, N_PARTS, b, "cell", N_PARTS)
            else:
                ingest_fullscan(b)
            times.append(time.perf_counter() - t0)
        print(
            json.dumps(
                {
                    "rows": rows,
                    "variant": variant,
                    "sec": round(min(times[1:]), 3),
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--case":
        rows, variant = sys.argv[2].split(":")
        run_case(int(rows), variant)
        return
    rows_list = [
        int(x)
        for x in (
            sys.argv[1] if len(sys.argv) > 1 else "200000,2000000,20000000"
        ).split(",")
    ]
    for rows in rows_list:
        for variant in ("pruned", "fullscan"):
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--case",
                 f"{rows}:{variant}"],
                check=True,
            )


if __name__ == "__main__":
    main()
