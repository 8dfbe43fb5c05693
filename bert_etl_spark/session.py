"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` (single JVM), but every conf here is chosen
so the same code is correct and fast on a 1000-executor cluster reading 100 TB:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic join-strategy demotion replace hand-tuned partition counts at scale.
- ``spark.sql.shuffle.partitions`` is only the *initial* number — AQE coalesces
  down for small SFs and the advisory partition size governs at 100 TB.
- Arrow enabled: every pandas UDF / mapInPandas boundary is Arrow-batched.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (and are deployment-independent).

Reference parity: replaces the per-stage worker/memory knobs of bert-etl
(`bert/utils.py:64-307`, `bert/binding.py:37`) with Spark resource confs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """min(48g, a quarter of physical RAM). The Python driver shares the
    machine: in the test suite it hosts the in-process DuckDB oracle,
    whose heaviest queries (the MMR ones) peak near 8 GB. On a 16 GB
    machine a 48g heap, and also an 8g one, let the JVM and that peak
    together reach the limit, and the kernel killed the JVM."""
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{min(48 * 1024, ram_mb // 4)}m"


# Confs that matter at 100 TB, with values that also behave at test scale.
_BASE_CONFS: dict[str, str] = {
    # --- correctness / determinism ---
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: reference semantics are permissive Python (no overflow errors)
    "spark.sql.ansi.enabled": "false",
    # --- adaptive execution: the scale workhorse ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # Floor for AQE's post-shuffle coalescing (default 1m). AQE sizes
    # partitions by BYTES; operators whose reduce side is CPU-dense at
    # small bytes (array_intersect verify joins, HOF folds, per-group
    # vote folds) were coalesced to 1-4 tasks and serialized on a
    # 32-core box. 64k lets parallelismFirst actually reach the
    # available cores for those stages while leaving every normally
    # sized shuffle untouched (advisory 64m still governs; measured
    # round-14: dedup_allpairs_prefix 6.4 -> 2.2 s, zero regressions
    # beyond noise on a 12-query control mix). The same CPU-density
    # argument holds on a real cluster: a small-bytes stage with heavy
    # per-row work wants cores, and extra sub-64k tasks are noise there.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    # --- memory: local mode is driver-only, so this is THE heap knob;
    #     the 1g default causes GC thrash on any real workload ---
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()
    ),
    "spark.driver.maxResultSize": "4g",
    # --- shuffle ---
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # --- scans ---
    "spark.sql.files.maxPartitionBytes": "128m",
    # File-listing strategy: above this many paths Spark lists via a
    # distributed job (scheduler round trip + task launch per read).
    # The CDC op log is a 64-bucket layout, so at the stock threshold
    # (32) EVERY full read of it paid a listing job for 64 tiny dirs
    # (measured 0.1-0.25 s each, on every latest_cdc_state/fold/rebucket
    # call — round-14 batch 6). 128 keeps
    # all index-family layouts on the driver's threaded lister; tables
    # with hundreds+ of partition dirs (the 100 TB case) still use the
    # distributed path. Index probes list the whole index root and prune
    # in-plan (dynamic or static partition filters), and every family's
    # modulus is at most 128 (IVF/IVF-PQ 8 cells, MaxSim 64, sign-LSH
    # 2^planes, text 16 buckets), so that probe-time root listing stays
    # on the driver too.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "128",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # --- python boundary ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # --- broadcast: dims up to 64 MB skip the shuffle entirely ---
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # quieter local runs
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(
    app_name: str = "bert_etl_spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and let spark-submit supply it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in _BASE_CONFS.items():
        builder = builder.config(key, value)
    # A/B hook for perf experiments: SPARK_GRAFT_EXTRA_CONFS="k=v;k=v"
    # overrides any base conf without code edits (used by the bench bisects)
    for pair in os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(";"):
        if "=" in pair:
            key, _, value = pair.partition("=")
            builder = builder.config(key.strip(), value.strip())
    if extra_confs:
        for key, value in extra_confs.items():
            builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
