"""Structured Streaming equivalents of the reference's queue machinery.

Mapping (SURVEY §2A → here):
- DynamoDB-Streams → Lambda per batch (#8, #28)  → file/rate source with
  ``maxFilesPerTrigger`` / ``trigger(availableNow)`` micro-batches
- StreamingQueue in-memory records (#16)          → memory-sink micro-batches
- ETLState cross-run dedup ledger (#19)           → ``dropDuplicates`` /
  ``dropDuplicatesWithinWatermark`` (bounded state)
- stalled-job monitor + re-invoke (#30)           → checkpoint + query restart
  (exactly-once; the reference is at-least-once — intentional upgrade, see
  SURVEY §2A parity note (b))
- BOTTLE serial gate (#26)                        → single writer via
  ``foreachBatch`` idempotent sink

Scale: watermarks bound all state; aggregations are partial per micro-batch;
a file source at 100 TB becomes Kafka/CDC with the same plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bert_etl_spark.functions.markers import read_int_marker, write_int_marker

# logical schema of events.parquet; the physical type of ``ts`` varies by
# writer (ns / µs-NTZ / µs-UTC) and is sniffed per directory — see
# _ts_physical_type. {ts} is filled in with the sniffed declaration.
EVENTS_SCHEMA_TEMPLATE = (
    "event_id long, ts {ts}, user_id long, event_type string, value double, props string"
)


def _ts_physical_type(path: str, glob: str | None) -> str:
    """Sniff the parquet footer and return the Spark type to DECLARE for ts.

    A file-source stream requires an explicit schema, which silently
    overrides whatever the files contain — declaring ``long`` against µs
    timestamps shears every value 1000× (the round-3 failure mode). So the
    declaration must come from the footer, exactly like batch inference:

    - ns timestamps  → ``long`` (vectorized reader rejects NANOS; the
      ``nanosAsLong`` flag maps them to int64, shimmed to µs after read)
    - µs/ms, no tz   → ``timestamp_ntz``
    - µs/ms, tz      → ``timestamp``
    """
    import glob as globmod
    import os

    import pyarrow.parquet as pq

    pattern = os.path.join(path, glob or "*.parquet")
    files = sorted(globmod.glob(pattern)) or sorted(
        globmod.glob(os.path.join(path, "**", glob or "*.parquet"), recursive=True)
    )
    if not files:
        return "timestamp_ntz"  # empty dir: modern writer default

    import pyarrow as pa

    def decl(f: str) -> str:
        t = pq.read_schema(f).field("ts").type
        if pa.types.is_timestamp(t):
            if t.unit == "ns":
                return "long"
            return "timestamp" if t.tz is not None else "timestamp_ntz"
        return "long"  # raw int64: ns-since-epoch wire convention

    # sniff EVERY matched file, not just the first: a directory mixing ts
    # encodings (e.g. later shards from a newer writer) would otherwise be
    # silently decoded with the first file's declaration — the same silent
    # 1000x shear class this sniffing exists to prevent. Mixed encodings
    # cannot be declared with one schema, so fail loudly with the per-file
    # breakdown instead.
    decls = {f: decl(f) for f in files}
    distinct = sorted(set(decls.values()))
    if len(distinct) > 1:
        sample = {d: next(f for f, v in decls.items() if v == d) for d in distinct}
        raise ValueError(
            f"mixed ts physical types under {path!r}: {sample} — "
            "rewrite the stream directory with one writer version or split "
            "it into per-encoding directories"
        )
    return distinct[0]


def events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    glob: str | None = None,
) -> DataFrame:
    """File-source stream over events-shaped parquet, normalized to one
    canonical event-time type (TIMESTAMP LTZ, UTC session tz) regardless of
    the files' physical ts encoding.

    ``path`` must be a directory (file-source contract); ``glob`` filters
    files within it — e.g. ``events_stream(spark, sf_dir, glob="events.parquet")``
    streams the events table out of a mixed-table directory.
    """
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    ts_decl = _ts_physical_type(path, glob)
    reader = spark.readStream.schema(EVENTS_SCHEMA_TEMPLATE.format(ts=ts_decl))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.parquet(path)
    if ts_decl == "long":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_decl == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def tumbling_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type (late rows beyond
    the watermark are dropped; state is bounded by watermark horizon)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_dedup(
    stream: DataFrame, keys: list[str], watermark: str | None = None
) -> DataFrame:
    """Streaming dedup — the ETLState ledger in streaming form.

    With a watermark the state store evicts expired keys
    (dropDuplicatesWithinWatermark); without one, state grows unboundedly —
    only for tests/small keys.
    """
    if watermark:
        return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return stream.dropDuplicates(keys)


def enrich_with_dim(stream: DataFrame, dim: DataFrame, expr) -> DataFrame:
    """Stream-static join: the dim side is re-read per micro-batch and
    broadcast — no streaming state."""
    return stream.join(F.broadcast(dim), expr, "left")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    interval: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with an event-time interval bound.

    Both sides are watermarked and the join carries a time-range condition
    (right.ts within [left.ts, left.ts + interval]) — REQUIRED for Spark to
    bound the join state: each side buffers only rows newer than
    watermark + interval, so state is O(rate x horizon) instead of
    unbounded. Outer variants additionally need the watermark to know when
    an unmatched row can be emitted with nulls.

    Columns are prefixed l_/r_ (the two sides share the events schema).
    """
    l = left.withWatermark("ts", watermark).select(
        *[F.col(c).alias(f"l_{c}") for c in left.columns]
    )
    r = right.withWatermark("ts", watermark).select(
        *[F.col(c).alias(f"r_{c}") for c in right.columns]
    )
    cond = (
        (F.col(f"l_{key}") == F.col(f"r_{key}"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {interval}"))
    )
    return l.join(r, cond, how)


def run_to_memory(df: DataFrame, name: str, output_mode: str = "update") -> DataFrame:
    """Drain all available input through a memory sink synchronously and
    return the result table (test/driver harness helper)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def stateful_running_counts(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    event count carried across micro-batches — the reference's process-shared
    StreamingQueue / ETLState pattern (SURVEY §2A#16/#19) as managed state.

    State is one long per user; at scale the state store shards by the group
    key and checkpoints incrementally — nothing grows with event volume.
    """
    import pandas as pd

    def update(key, pdfs, state):
        count = state.get[0] if state.exists else 0
        for pdf in pdfs:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [count]})

    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long",
            stateStructType="n long",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def session_windows(stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Streaming gap-sessionization with native session_window (merging
    session state, closed when the watermark passes session end + gap)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_tumbling_from_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-query form of the streaming pipeline: file-source stream →
    watermarked tumbling counts → complete-mode memory sink drained with
    availableNow. Complete mode truncates the sink per trigger, so after the
    final batch the memory table IS the batch-equivalent result — which
    makes a genuine Structured Streaming run oracle-checkable.
    """
    stream = events_stream(spark, sf_dir, glob="events.parquet")
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("streaming_tumbling_oracle")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("streaming_tumbling_oracle")


LEDGER_BUCKETS_CONF = "spark.bert_etl.lshLedger.buckets"
LEDGER_BUCKETS_DEFAULT = 16
# opt-in per-batch component timing (observability; the attribution tool
# tools/ledger_attribution.py reads this after a run) — one dict per
# processed epoch: {"epoch": id, "<component>": seconds, ...}
LEDGER_TIMING_CONF = "spark.bert_etl.lshLedger.timing"
LEDGER_TIMINGS: list[dict] = []
# re-delivered doc sets at or below this size are handled as inline
# filter literals (zero extra joins); above it, broadcast anti-join
REDELIVERED_INLINE_MAX = 10_000


def _ledger_buckets(spark: SparkSession) -> int:
    """The conf's bucket count. A malformed value RAISES instead of
    silently falling back: a fallback modulus that differs from the one
    the ledger was laid out under makes the path-enumerated probe miss
    true band collisions with nothing failing loudly (round-8 advice)."""
    raw = spark.conf.get(LEDGER_BUCKETS_CONF, str(LEDGER_BUCKETS_DEFAULT))
    try:
        n = int(raw)
    except (TypeError, ValueError):
        raise ValueError(
            f"{LEDGER_BUCKETS_CONF}={raw!r} is not an integer — refusing to "
            "guess a bucket modulus for a partition-pruned ledger"
        )
    if n < 1:
        raise ValueError(f"{LEDGER_BUCKETS_CONF}={n} must be >= 1")
    return n


def read_ledger_bucket_marker(spark: SparkSession, ledger_dir: str) -> int | None:
    """The ``_n_buckets`` marker stamped at ledger creation, or None for a
    ledger that doesn't exist yet. Corrupt markers raise with the path and
    content (markers.read_int_marker) instead of a bare int() error."""
    return read_int_marker(spark, f"{ledger_dir}/_n_buckets")


def validate_ledger_buckets(spark: SparkSession, ledger_dir: str) -> int:
    """The AUTHORITATIVE bucket count for this ledger.

    The bucket modulus is a PERSISTENT layout property, not a session
    tunable: every epoch dir (and every compacted fold, which copies the
    stored bkt column verbatim) is laid out under the modulus in force
    when it was written. A stream restarted with a different conf value
    would compute touched-bucket ids under the new modulus while prior
    epochs sit under the old one — the path-enumerated probe then misses
    true band collisions and cross-epoch pairs are silently lost. So the
    count is stamped into the ledger at creation (``_n_buckets`` marker
    file, written atomically via markers.write_int_marker) and every batch
    validates the conf against it, FAILING LOUDLY on mismatch (round-8
    advice). Returns the marker value (stamping it first if the ledger is
    NEW — a marker-less ledger that already holds committed epochs is a
    pre-marker layout whose original modulus this session cannot know, so
    stamping the current conf onto it would lock in exactly the
    mis-pruning the marker prevents; that case refuses and requires an
    explicit migration, round-9 advice)."""
    conf_n = _ledger_buckets(spark)
    marker = read_ledger_bucket_marker(spark, ledger_dir)
    if marker is None:
        prior = committed_prior_epochs(spark, ledger_dir, 2**62)
        if prior:
            raise ValueError(
                f"ledger at {ledger_dir} holds committed epochs "
                f"{prior[:5]}{'...' if len(prior) > 5 else ''} but no "
                "_n_buckets marker — it predates the marker, and its "
                "original bucket modulus cannot be inferred from the "
                "current conf. Migrate explicitly: verify the modulus the "
                "ledger was written with (the bkt= dirs run 0..n-1) and "
                "stamp it with markers.write_int_marker, or rebuild the "
                "ledger"
            )
        write_int_marker(spark, f"{ledger_dir}/_n_buckets", conf_n)
        return conf_n
    if marker != conf_n:
        raise ValueError(
            f"ledger at {ledger_dir} was created with n_buckets={marker} "
            f"but {LEDGER_BUCKETS_CONF}={conf_n}; the bucket modulus is a "
            "persistent layout property — restart with the original value "
            "(or rebuild the ledger) instead of silently mis-pruning"
        )
    return marker


def _with_bucket(bands: DataFrame, n_buckets: int) -> DataFrame:
    """Band-hash bucket id — the ledger's PARTITION column. One derived
    column, both the writer and the probe compute it from (band, h) with
    the same expression, so pruning can never drop a true collision."""
    return bands.withColumn(
        "bkt", F.pmod(F.xxhash64("band", "h"), F.lit(n_buckets)).cast("int")
    )


def committed_prior_epochs(
    spark: SparkSession, ledger_dir: str, epoch_id: int
) -> list[int]:
    """Epoch ids with a committed (``_SUCCESS``) ledger partition below
    ``epoch_id``. One cheap FS listing — callers check this BEFORE
    computing the batch's touched-bucket list, so the very first epoch
    (and any restart from an empty ledger) skips that job entirely.
    Local-FS fast path (functions/fsfast): this runs per micro-batch,
    and the JVM glob cost ~5-10 ms/epoch in py4j round trips."""
    from bert_etl_spark.functions.fsfast import local_path

    lp = local_path(ledger_dir)
    if lp is not None:
        import os

        try:
            kids = os.listdir(lp)
        except FileNotFoundError:
            kids = []
        committed = set()
        for k in kids:
            if not k.startswith("epoch="):
                continue
            try:
                e = int(k.split("=", 1)[1])
            except ValueError:
                continue
            if os.path.exists(os.path.join(lp, k, "_SUCCESS")):
                committed.add(e)
        return sorted(e for e in committed if e < epoch_id)
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(f"{ledger_dir}/epoch=*/_SUCCESS")
    st = p.getFileSystem(hconf).globStatus(p)
    paths = [] if st is None else [s.getPath().toString() for s in st]
    committed = {int(x.split("epoch=")[-1].split("/")[0]) for x in paths}
    return sorted(e for e in committed if e < epoch_id)


def ledger_probe(
    spark: SparkSession,
    ledger_dir: str,
    epoch_id: int,
    touched_bkts: list[int],
    epochs: list[int] | None = None,
) -> DataFrame | None:
    """The pruned prior-ledger scan for one micro-batch: only COMMITTED
    epochs (``_SUCCESS`` present, ``epoch < epoch_id``) and only the
    band-hash buckets the batch actually touches.

    Pruning happens at PATH ENUMERATION, before Spark ever builds a file
    index: one FS glob matches exactly the touched ``bkt=`` directories
    (committed epochs come from the ``_SUCCESS`` glob), and the read gets
    those concrete paths with ``basePath`` so partition columns survive.
    Handing ``spark.read.parquet(ledger_dir)`` the ROOT and filtering
    would still pay a full partition DISCOVERY — listing every bucket
    directory of every epoch per micro-batch, measured 2.5 s/epoch at
    1024 buckets locally and O(ledger dirs) growth at scale. With path
    enumeration both the listing and the scan are O(touched buckets)
    (tests/test_streaming.py pins inputFiles ⊆ touched dirs).

    Returns None when no committed prior bucket dir matches — no prior
    band can collide, so the caller skips the cross path entirely.

    Known growth axis: the ``epoch=*/_SUCCESS`` glob is O(#epochs) of
    METADATA per batch (dir listing, no data). An always-on ingest
    accumulating millions of micro-batch epochs runs
    ``compact_ledger_epochs`` periodically — the whole committed history
    folds into one base epoch partition; bucket layout and probe results
    are unchanged because bkt is content-derived. Pass
    ``compact_every=N`` to lsh_band_ledger_stream to run this inside the
    query path itself: a size-tiered trailing run of at least N epochs is
    folded (never the whole history at once — _fold_suffix bounds the
    amortized fold cost to O(batch x log total))."""
    if epochs is None:
        epochs = committed_prior_epochs(spark, ledger_dir, epoch_id)
    if not epochs or not touched_bkts:
        return None
    from bert_etl_spark.functions.fsfast import local_path

    lp = local_path(ledger_dir)
    if lp is not None:
        # local fast path: |epochs|×|touched| isdir probes are
        # microseconds; the JVM brace-glob was one more per-epoch py4j
        # round trip (functions/fsfast rationale)
        import os

        dirs = [
            f"{ledger_dir}/epoch={e}/bkt={b}"
            for e in epochs
            for b in sorted(set(touched_bkts))
            if os.path.isdir(os.path.join(lp, f"epoch={e}", f"bkt={b}"))
        ]
    else:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        pat = (
            f"{ledger_dir}/epoch="
            + "{" + ",".join(str(e) for e in epochs) + "}"
            + "/bkt="
            + "{" + ",".join(str(b) for b in sorted(set(touched_bkts))) + "}"
        )
        p = jvm.org.apache.hadoop.fs.Path(pat)
        st = p.getFileSystem(hconf).globStatus(p)
        dirs = [] if st is None else [s.getPath().toString() for s in st]
    if not dirs:
        return None
    # the partition predicates are already true by construction — kept as
    # real filters so a mis-enumerated path can never leak rows, and so
    # the plan shows them as PartitionFilters (belt and braces)
    return (
        spark.read.option("basePath", ledger_dir)
        .parquet(*dirs)
        .filter((F.col("epoch") < epoch_id) & F.col("bkt").isin(touched_bkts))
    )


def compact_ledger_epochs(
    spark: SparkSession,
    ledger_dir: str,
    through_epoch: int,
    epochs: list[int] | None = None,
) -> int:
    """Roll a span of committed ledger epochs into ONE epoch partition
    (``epoch=<through_epoch>``), preserving the (epoch, bkt) layout the
    probe prunes on. Returns the number of epochs folded (0 = nothing to
    do). With ``epochs=None`` (the standalone/manual form) the span is
    EVERY committed epoch ≤ ``through_epoch``; the in-path trigger passes
    an explicit trailing span so a fold never has to rewrite the whole
    history (see _maybe_compact_ledger's size-tiered policy).

    This bounds the probe's O(#epochs) metadata axis (the
    ``epoch=*/_SUCCESS`` glob + bucket-dir enumeration grow with every
    micro-batch): an always-on ingest compacts periodically, after which
    the glob sees one committed epoch per fold for the history. Probe
    results are unchanged — bkt is content-derived (pmod(xxhash64(band,
    h))), so rows land in the same buckets, and any future epoch_id >
    through_epoch still satisfies ``epoch < epoch_id``. The row-level
    epoch value collapses to the fold's id, which the probe never uses
    beyond the < filter.

    Crash safety: the compacted span is FIRST written complete (with
    ``_SUCCESS``) to a temp dir outside the ``epoch=*`` glob — named
    ``_compact_tmp_<through>`` for a full fold or
    ``_compact_tmp_<from>_<through>`` for a span fold, so RECOVERY can
    reconstruct exactly which epoch dirs the fold replaces — THEN the
    old epoch dirs are deleted, THEN the temp is renamed into place. A
    crash between delete and rename leaves a window where the ledger
    dirs are missing but the temp holds the full span — re-running
    compaction with the same arguments (or _recover_interrupted_compaction,
    which parses the span from the temp name) completes the swap before
    doing anything else. Like ingestion itself, compaction is
    SINGLE-WRITER: run it in the same serial lane as the foreachBatch
    sink (the engine analog of the reference's BOTTLE gate,
    /root/reference/bert/runner/manager.py BOTTLE handling) so no probe
    runs inside the swap window."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()

    def _path(p: str):
        return jvm.org.apache.hadoop.fs.Path(p)

    fs = _path(ledger_dir).getFileSystem(hconf)
    if epochs is None:
        epochs = committed_prior_epochs(spark, ledger_dir, through_epoch + 1)
        tmp = _path(f"{ledger_dir}/_compact_tmp_{through_epoch}")
    else:
        epochs = sorted(epochs)
        tmp = _path(
            f"{ledger_dir}/_compact_tmp_{epochs[0]}_{through_epoch}"
        )
    target = _path(f"{ledger_dir}/epoch={through_epoch}")

    def _swap(span: list[int]) -> None:
        for e in span:
            # no-op for dirs a prior interrupted swap already deleted
            fs.delete(_path(f"{ledger_dir}/epoch={e}"), True)
        if not fs.rename(tmp, target):
            raise IOError(f"compaction rename failed: {tmp} -> {target}")

    if fs.exists(_path(f"{tmp}/_SUCCESS")):
        # recovery: a previous compaction wrote the full span but crashed
        # before/inside the swap — finish it (idempotent)
        _swap(epochs)
        return len(epochs)
    if len(epochs) < 2:
        return 0
    if epochs[-1] != through_epoch:
        # the compacted partition MUST land on a committed epoch id:
        # folding into a higher id (say 5 while the stream is at 2) would
        # make every probe with epoch_id <= 5 silently EXCLUDE the whole
        # compacted history via its epoch < epoch_id filter — data loss,
        # not an error. Refuse instead.
        raise ValueError(
            f"through_epoch={through_epoch} is not the highest committed "
            f"ledger epoch <= itself (committed: {epochs}); compaction "
            f"must target a committed epoch id"
        )
    span = spark.read.option("basePath", ledger_dir).parquet(
        *[f"{ledger_dir}/epoch={e}" for e in epochs]
    )
    # the fold only REPARTITIONS on the stored bkt values, but parallelism
    # should still track the ledger's real modulus — and a standalone
    # compaction run under a drifted conf must fail just as loudly as a
    # batch would
    n_buckets = validate_ledger_buckets(spark, ledger_dir)
    # the epoch column is partition-derived — drop it; bkt is re-written
    # as the partition column. Full n_buckets parallelism: compaction is
    # the occasional big batch job, not a trickle epoch.
    span.select("doc_id", "band", "h", "bkt").repartition(
        n_buckets, "bkt"
    ).write.partitionBy("bkt").mode("overwrite").parquet(str(tmp))
    _swap(epochs)
    return len(epochs)


def _recover_interrupted_compaction(spark: SparkSession, ledger_dir: str) -> int:
    """Complete (or clean up) any compaction a crash left behind; returns
    the number of leftover temp spans handled. Runs UNCONDITIONALLY at
    the top of every micro-batch — one cheap FS glob — because gating it
    on ``compact_every`` re-creates the failure it exists to prevent: a
    crash between compaction's delete and rename leaves FEWER committed
    epoch dirs than any threshold, and an operator restarting the stream
    without the knob (or having compacted manually) would otherwise leave
    the folded history invisible to every probe forever.

    A temp span WITH ``_SUCCESS`` is complete — its swap is finished
    (delete remaining span dirs, rename into place; the span is parsed
    from the ``_compact_tmp_<from>_<through>`` / ``_compact_tmp_<through>``
    name). A temp dir WITHOUT ``_SUCCESS`` is a fold that died mid-write:
    its source epoch dirs are untouched, so the partial output is garbage
    and is deleted."""
    from bert_etl_spark.functions.fsfast import listdir_names

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.Path(ledger_dir).getFileSystem(hconf)
    # local fast path for the per-epoch "any leftover temp?" probe —
    # the JVM glob cost one py4j round trip per micro-batch; recovery
    # HANDLING below stays on the Hadoop FS either way
    kids = listdir_names(ledger_dir)
    if kids is not None:
        tmp_names = [k for k in kids if k.startswith("_compact_tmp_")]
    else:
        p = jvm.org.apache.hadoop.fs.Path(f"{ledger_dir}/_compact_tmp_*")
        st = fs.globStatus(p)
        tmp_names = (
            []
            if st is None
            else [s.getPath().getName() for s in st]
        )
    handled = 0
    for tmp_name in tmp_names:
        sp = jvm.org.apache.hadoop.fs.Path(f"{ledger_dir}/{tmp_name}")
        name = tmp_name.split("_compact_tmp_")[-1]
        parts = [int(x) for x in name.rsplit("_", 1)] if "_" in name.lstrip(
            "-"
        ) else [int(name)]
        through = parts[-1]
        if not fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{sp}/_SUCCESS")
        ):
            # died mid-write: sources intact, partial output is garbage
            fs.delete(sp, True)
            handled += 1
            continue
        if len(parts) == 1:
            compact_ledger_epochs(spark, ledger_dir, through, epochs=None)
        else:
            # span form: the rebuilt span MUST start at the recorded
            # <from> id so the temp-dir name matches the leftover (the
            # from/through dirs may already be deleted — _swap's deletes
            # are no-ops for missing dirs)
            committed = committed_prior_epochs(spark, ledger_dir, through + 1)
            span = sorted(
                {e for e in committed if e >= parts[0]} | {parts[0], through}
            )
            compact_ledger_epochs(spark, ledger_dir, through, epochs=span)
        handled += 1
    return handled


def _fold_suffix(sizes: list[tuple[int, int]], min_run: int) -> list[int]:
    """Size-tiered (LSM-style) merge policy — pure function of
    ``[(epoch, bytes)]`` ascending. Returns the trailing run of epoch ids
    to fold, or ``[]``.

    Starting from the newest epoch, the run extends to the next-older
    epoch while that epoch's size is ≤ the run's accumulated size — i.e.
    a fold only ever rewrites data comparable to what the trickle since
    the last fold already wrote, never a base arbitrarily larger than it.
    With equal-size trickle epochs and min_run=N this yields the classic
    binary merge pattern (rewrites of N, 2N, N, 4N, N, 2N, N, 8N …):
    amortized per-epoch fold cost O(batch × log total), while dir count
    stays ≤ min_run + O(log total) — BOTH axes bounded, unlike a
    fold-everything trigger whose amortized cost is O(total ledger) per
    window (the always-on killer one level up)."""
    run_sum = 0
    i = len(sizes)
    while i > 0 and (run_sum == 0 or sizes[i - 1][1] <= run_sum):
        run_sum += sizes[i - 1][1]
        i -= 1
    run = [e for e, _ in sizes[i:]]
    return run if len(run) >= min_run else []


def _maybe_compact_ledger(
    spark: SparkSession,
    ledger_dir: str,
    epoch_id: int,
    compact_every: int,
    epochs: list[int],
) -> list[int]:
    """In-query-path compaction trigger: fold a size-tiered trailing run
    of committed epochs (see _fold_suffix) once it spans at least
    ``compact_every`` partitions. Runs inside the foreachBatch lane
    BEFORE the batch's probe, so the single-writer invariant holds (no
    probe ever overlaps the swap window — the reference's BOTTLE gate,
    /root/reference/bert/runner/manager.py BOTTLE handling) and this very
    batch's path enumeration already benefits.

    The fold target is always STRICTLY BELOW the in-flight epoch: folding
    into ``epoch_id`` itself would be wiped by that epoch's own
    mode=overwrite on an at-least-once replay; the caller's ``epochs``
    come from committed_prior_epochs, which excludes ``epoch_id``.

    Takes and returns the committed-epoch list so the caller never pays
    the O(#epochs) ``_SUCCESS`` glob twice in one batch; the per-epoch
    sizes add one content-summary call per committed dir — the same
    metadata class, and the fold the sizes gate keeps that list short."""
    if len(epochs) < compact_every:
        return epochs
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()

    def _size(e: int) -> int:
        p = jvm.org.apache.hadoop.fs.Path(f"{ledger_dir}/epoch={e}")
        return p.getFileSystem(hconf).getContentSummary(p).getLength()

    run = _fold_suffix([(e, _size(e)) for e in epochs], compact_every)
    if not run:
        return epochs
    compact_ledger_epochs(spark, ledger_dir, run[-1], epochs=run)
    return [e for e in epochs if e not in run[:-1]]


def lsh_band_ledger_stream(
    docs_stream: DataFrame,
    ledger_dir: str,
    out_dir: str,
    checkpoint: str,
    query_name: str = "lsh_ledger",
    compact_every: int | None = None,
):
    """Always-on NEAR-dup ingest: the streaming form of
    dedup_minhash_incremental — the LSH generalization of the reference's
    ETLState exact-identity ledger (bert/etl/__init__.py:57-80) running as
    the reference's always-on queue pipeline does
    (bert/runner/manager.py:90-241).

    Per micro-batch of documents (``doc_id``, ``text``):
    1. shingle → minhash → LSH bands for the batch only;
    2. candidates = batch bands ⋈ LEDGER bands on (band, h)  — the
       persisted band table of every PRIOR batch — plus the batch's
       within-batch band collisions. Never corpus×corpus: per-ingest cost
       is O(batch × collision rate);
    3. append the batch's bands to the ledger and the candidate pairs to
       ``out_dir``.

    Ledger layout & probe pruning: the ledger is partitioned by
    (epoch, bkt) where ``bkt = pmod(xxhash64(band, h), N_BUCKETS)``
    (``spark.bert_etl.lshLedger.buckets``). The probe reads ONLY the
    buckets the batch's own bands hash into — a directory-pruned scan
    (see ledger_probe), the file-layout analog of the reference's
    ETLState.contains() being an O(1) set probe, not a scan
    (bert/etl/__init__.py:71-80). Per-ingest probe IO is
    O(ledger × touched-bucket fraction): for a trickle batch touching B
    bands against N_BUCKETS >> B, that is O(ledger × B / N_BUCKETS)
    instead of O(ledger). The bucket list is a driver-side METADATA
    collect — at most N_BUCKETS small ints per batch (the same class as
    the committed-epoch glob below), never row data. The writer
    repartitions the batch's bands by bkt first, so each ingest shuffles
    only its own bands to the bucket locations and writes one file per
    touched bucket.

    Exactly-once, including producer re-delivery: both writes land in an
    ``epoch=<id>`` partition dir with mode=overwrite, so a replayed epoch
    (foreachBatch is at-least-once) rewrites its own partition instead of
    duplicating, and the ledger read filters ``epoch < current`` so a
    retry never joins against its own partial output. A document
    RE-DELIVERED in a later epoch (at-least-once producers do this)
    matches its own prior ledger entry on its FULL signature — identical
    text yields identical bands, so all k/r bands self-match — and is
    dropped from the batch entirely: its pairs were already emitted at
    its first epoch and its bands are already in the ledger, so
    re-processing it would turn the out_dir union into a multiset. With
    the drop, the union of per-epoch emissions equals the batch candidate
    set EXACTLY under IDENTICAL re-delivery — the exactness claim is
    scoped to byte-identical replays. The drop requires ALL bands to
    self-match, not any one: a doc_id re-arriving with *edited* text is a
    near-dup of its own prior version, and LSH's premise is precisely
    that near-dups collide on SOME bands — such an arrival is treated as
    a new document version (bands appended, pairs against other docs
    emitted; the degenerate pair against its own doc_id is not). A new
    VERSION can therefore legitimately re-emit a (doc, other) pair that an
    earlier epoch already emitted for the prior version: out_dir readers
    that want set semantics across epochs must DISTINCT (doc_i, doc_j)
    over their read range. doc_id plus content is the identity, mirroring
    the reference's content-derived calc_identity.

    Signatures are computed over the batch's RAW shingles (no df-cap): the
    corpus-wide document frequency is unknowable inside one micro-batch,
    and a batch-local cap would make a document's signature depend on what
    it arrived with. Uncapped signatures are arrival-order-invariant, so
    the union of emitted pairs over any batch split equals the batch
    pipeline's uncapped candidate set; downstream verification prunes.
    """
    from bert_etl_spark.operators.dedup import (
        BAND_ROWS,
        N_MINHASHES,
        lsh_bands,
        minhash_signatures,
        shingles_df,
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        import time as _t

        spark = batch_df.sparkSession
        timing = (
            str(spark.conf.get(LEDGER_TIMING_CONF, "false")).lower() == "true"
        )
        tm: dict = {"epoch": epoch_id}

        def _mark(name: str, t0: float) -> None:
            if timing:
                tm[name] = tm.get(name, 0.0) + _t.perf_counter() - t0

        t0 = _t.perf_counter()
        # UNCONDITIONAL (not gated on compact_every): an interrupted swap
        # leaves fewer committed dirs than any threshold, and the stream
        # may be restarted without the knob — see _recover_interrupted_compaction
        _recover_interrupted_compaction(spark, ledger_dir)
        _mark("recovery_glob", t0)
        t0 = _t.perf_counter()
        # authoritative modulus: the ledger's own _n_buckets marker
        # (stamped at creation; conf mismatch fails loudly — a modulus
        # drift would silently mis-prune every cross-epoch probe)
        n_buckets = validate_ledger_buckets(spark, ledger_dir)
        _mark("bucket_marker", t0)
        bands = _with_bucket(
            lsh_bands(minhash_signatures(shingles_df(batch_df))), n_buckets
        ).persist()
        # COMMITTED-EPOCH check via the _SUCCESS globs inside ledger_probe,
        # not a bare try/except: a transient glob failure (FS hiccup,
        # permissions) at epoch N>0 must raise and fail the batch —
        # swallowing it as "first epoch" would silently drop every
        # cross-epoch pair for this batch, then commit the checkpoint,
        # losing them permanently (each pair is only ever emitted at the
        # LATER doc's epoch). _SUCCESS, not bare directory existence: a
        # write that crashed mid-job leaves the dir present but empty, and
        # reading it would crash-loop the replay with "unable to infer
        # schema" on every retry.
        fresh, cross = bands, None
        batch_persists = [bands]
        t0 = _t.perf_counter()
        epochs = committed_prior_epochs(spark, ledger_dir, epoch_id)
        _mark("epoch_glob", t0)
        t0 = _t.perf_counter()
        if compact_every is not None:
            # serial with the rest of the batch; reuses (and returns) the
            # committed list so the _SUCCESS glob runs once per batch
            epochs = _maybe_compact_ledger(
                spark, ledger_dir, epoch_id, compact_every, epochs
            )
        _mark("compaction", t0)
        t0 = _t.perf_counter()
        # touched buckets: metadata-scale (<= n_buckets distinct small
        # ints), and only computed when a committed prior epoch exists —
        # the first epoch skips the job. Observed collect_set on a
        # shuffle-free noop scan (functions/observe.py): same single
        # job, no dedup exchange, driver receives <= n_buckets ints
        # regardless of batch size (round-15; it also materializes the
        # bands persist exactly like the old distinct-collect did)
        if epochs:
            from bert_etl_spark.functions.observe import observed_distinct

            touched = observed_distinct(bands, "bkt")
        else:
            touched = []
        _mark("touched_collect", t0)
        t0 = _t.perf_counter()
        ledger = ledger_probe(spark, ledger_dir, epoch_id, touched, epochs)
        _mark("probe_enumerate", t0)
        if touched:
            n_write_tasks = max(len(touched), 1)
        else:
            n_write_tasks = min(
                n_buckets, spark.sparkContext.defaultParallelism
            )
        if ledger is not None:
            probe = bands.join(
                ledger.select(F.col("doc_id").alias("prior_doc"), "band", "h"),
                ["band", "h"],
            ).persist()
            batch_persists.append(probe)
            # a FULL-SIGNATURE self-match identifies a re-delivered
            # document: drop it from the batch (pairs + ledger append) —
            # see docstring. Full signature = the prior ledger entry
            # matches on ALL bands, not any one: identical text matches
            # everywhere, while a same-doc_id re-arrival with EDITED text
            # is a near-dup of its own prior version and collides on SOME
            # bands with high probability (that is LSH's whole premise) —
            # dropping it on a single band match would silently discard
            # its updated bands and every candidate pair it owes other
            # docs (round-8 advice). Steady state is ZERO re-deliveries,
            # so probe it with a bounded take(): small sets become inline
            # filters (no joins at all — the hot path stays two joins
            # total), and only a pathological mass re-delivery falls back
            # to a broadcast anti-join (bounded by the BATCH's doc count,
            # never the ledger; broadcast because AQE is off inside
            # streaming).
            n_bands = N_MINHASHES // BAND_ROWS
            redel = (
                probe.filter(F.col("doc_id") == F.col("prior_doc"))
                .groupBy("doc_id")
                .agg(F.countDistinct("band").alias("_nb"))
                .filter(F.col("_nb") >= n_bands)
                .select("doc_id")
            )
            t0 = _t.perf_counter()
            redel_rows = redel.distinct().take(REDELIVERED_INLINE_MAX + 1)
            _mark("redelivery_take", t0)
            if len(redel_rows) <= REDELIVERED_INLINE_MAX:
                ids = [r.doc_id for r in redel_rows]
                fresh = bands if not ids else bands.filter(~F.col("doc_id").isin(ids))
                cross_base = probe if not ids else probe.filter(
                    ~F.col("doc_id").isin(ids)
                )
            else:
                redelivered = F.broadcast(redel.distinct())
                fresh = bands.join(redelivered, "doc_id", "left_anti").persist()
                batch_persists.append(fresh)
                cross_base = probe.join(redelivered, "doc_id", "left_anti")
            cross = cross_base.filter(F.col("doc_id") != F.col("prior_doc")).select(
                F.least("doc_id", "prior_doc").alias("doc_i"),
                F.greatest("doc_id", "prior_doc").alias("doc_j"),
            )
        within = (
            fresh.alias("a")
            .join(fresh.alias("b"), ["band", "h"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j")
            )
        )
        cand = within if cross is None else within.unionByName(cross)

        def _pairs_write() -> None:
            cand.distinct().write.mode("overwrite").parquet(
                f"{out_dir}/epoch={epoch_id}"
            )

        def _ledger_write() -> None:
            # one shuffle of the batch's own bands to their bucket
            # locations — task count = buckets the batch TOUCHES (a
            # trickle batch against n_buckets=2^k would otherwise launch
            # n_buckets mostly-empty tasks per epoch; measured 2.7 s/epoch
            # of pure task overhead at 1024 buckets locally), one file per
            # touched bucket. First epoch (touched not collected):
            # parallelism-capped — same bound.
            fresh.repartition(n_write_tasks, "bkt").write.partitionBy(
                "bkt"
            ).mode("overwrite").parquet(f"{ledger_dir}/epoch={epoch_id}")

        t0 = _t.perf_counter()
        if ledger is not None:
            # the two epoch outputs are independent (different dirs, both
            # epoch-overwrite idempotent — a crash between them replays
            # both), and by this point every shared input (bands, probe)
            # is already materialized in the block cache, so overlapping
            # them from two driver threads back-fills the tail of one
            # job with the other's tasks (guide §2.6). First epoch keeps
            # the serial order: bands is not yet cached there and two
            # concurrent first-materializations would compute the
            # shingle/minhash pass twice.
            from bert_etl_spark.functions.overlap import overlap

            overlap(_pairs_write, _ledger_write)
            _mark("pairs_write", t0)
            _mark("ledger_write", t0)
        else:
            _pairs_write()
            _mark("pairs_write", t0)
            t0 = _t.perf_counter()
            _ledger_write()
            _mark("ledger_write", t0)
        for d in batch_persists:
            d.unpersist()
        if timing:
            LEDGER_TIMINGS.append(tm)

    return (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def write_stream_parquet(
    df: DataFrame, out_path: str, checkpoint: str, query_name: str = "sink"
):
    """foreachBatch idempotent parquet append with checkpointing — restart
    resumes from the last committed offsets (exactly-once file sink)."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_path)

    return (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# CDC apply: materialize a change stream into a keyed, BUCKETED op-log table
#
# Round-13 redesign (round-12 "What's wrong #1": the old apply unioned the
# full state with every batch, re-windowed ALL keys, and rewrote a complete
# ``v=<epoch>`` dir — O(state) per trigger, forever). The cure is the
# repo's own touched-partition machinery, taken to its conclusion: because
# the merge is a pure per-key argmax over a total sequence, the state does
# not need to be MERGED at write time at all. The durable state is an
# append-only op LOG partitioned by ``bkt = xxhash64(k) mod n_buckets``:
#
# - APPLY (per epoch) is literally ingest_rows on opkey = k|seq|op:
#   intra-batch dedup, the O(touched-buckets) semi+anti replay guard, the
#   marker tripwire, and an O(batch) append — per-epoch cost is bounded by
#   the BATCH, independent of accumulated state. (A merge-and-swap per
#   epoch — the intermediate design — still rewrites touched_buckets ×
#   state/n_buckets rows every trigger: with uniform keys even a 1k-key
#   trickle touches most of a 1k-bucket layout, so the rewrite stays
#   O(state). Append-log + deferred fold is the LSM answer: write cost
#   O(batch) always, read/merge cost amortized into compaction.)
# - A DUE epoch (the in-path fold below is scheduled for it) writes once
#   instead of appending and then folding: it rewrites the buckets T =
#   the batch's buckets ∪ every bucket holding more than one data file
#   (the debt _cdc_bucket_files lists) to argmax(log[T] ∪ batch), through
#   commit_rewrite(touched=T). This is NOT the rejected per-epoch
#   merge-and-swap: it runs only when the cadence already pays a full
#   rewrite, and T is at most the whole log, so it never writes more
#   than the append + fold it replaces; non-due epochs still append.
#   The argmax drops re-delivered opkeys, so no replay guard runs. Its
#   one difference from a full fold: a single-file bucket outside T
#   keeps any within-batch superseded rows, which every reader's argmax
#   masks (cdc_compact_state and cdc_rebucket stay full folds).
# - READ (latest_cdc_state) computes the argmax per key over the log —
#   exactly the view the old materialized table held, including op='D'
#   tombstone rows so a late lower-seq upsert cannot resurrect a deleted
#   key. A keyed/point reader at scale prunes to the key's bucket dir
#   first (the probe idiom); the full-table view shuffles once by k.
# - COMPACT (cdc_compact_state) folds the log to its current argmax rows
#   — one row per key — through the index families' crash-safe protocol
#   (full rewrite to the sibling tmp table, ``_compact_pending`` sentinel,
#   marker delete, per-bucket dir swap via finish_compaction_swap, marker
#   re-stamp). open_index recovers an interrupted fold on the next apply
#   or read. In-path cadence: ``compact_every=N`` epochs, or
#   ``compact_when_log_files_over=F`` total data files — the files now
#   plus the one per touched bucket an append would add (a driver-side
#   FS listing — the measured-debt trigger, like the index families'
#   tombstone-bytes threshold).
#
# Convergence still does not depend on arrival order: the log holds every
# op exactly once (opkey dedup), and argmax over a set is permutation-
# invariant; a replayed micro-batch is dropped by the anti-join, and ops
# re-delivered AFTER a fold (their opkey no longer in the log) re-append
# as superseded rows the argmax ignores and the next fold drops (a due
# epoch's argmax drops them at once). Deletes
# stay as op='D' rows across folds, mirroring the durable-index tombstone
# contract. Reference analog: ETLState's per-item read-modify-write
# (/root/reference/bert/etl/__init__.py:86-164), batched and bucketed.
# ---------------------------------------------------------------------------

CDC_MARKER = "_n_buckets"
CDC_BUCKETS_DEFAULT = 64
# DDL of the op-log rows (opkey/bkt included), stamped at first contact
# right BEFORE the layout marker: a reader that finds the marker but no
# data (the first epoch crashed between stamping and the first append,
# or appended an empty batch) returns an empty frame of this schema
# instead of dying in parquet inference (round-13 advice, 'low' item).
CDC_SCHEMA_ARTIFACT = "_schema"


def _cdc_bucket(nb: int):
    return F.pmod(F.xxhash64(F.col("k")), F.lit(int(nb))).cast("int")


def _cdc_read_log(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The committed op log, or None when the marker-stamped dir holds no
    bucket dirs yet (the stamped-but-empty first-contact window). Reads
    with mergeSchema: appended batches may GROW the payload schema (the
    reference's work items are schemaless dicts —
    /root/reference/bert/queues.py:21-35), and a single-footer read would
    silently drop a column present only in newer files; older rows
    surface the new column as NULL (the source_schema_evolution
    contract). Footer cost is O(log files) and the fold resets that to
    one per bucket."""
    from bert_etl_spark.functions.fsfast import listdir_names

    names = listdir_names(state_dir)
    if names is not None:
        if not any(n.startswith("bkt=") for n in names):
            return None
    else:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(f"{state_dir}/bkt=*")
        st = p.getFileSystem(hconf).globStatus(p)
        if st is None or len(st) == 0:
            return None
    return (
        spark.read.option("basePath", state_dir)
        .option("mergeSchema", "true")
        .parquet(state_dir)
    )


def _cdc_empty_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Empty typed frame for a stamped-but-empty state dir, from the
    ``_schema`` artifact; raises a descriptive error when the artifact is
    missing (a pre-artifact state dir — indistinguishable from damage)."""
    import json

    from pyspark.sql.types import StructType

    from bert_etl_spark.functions.markers import read_text_marker

    txt = read_text_marker(spark, f"{state_dir}/{CDC_SCHEMA_ARTIFACT}")
    if txt is None:
        raise ValueError(
            f"CDC state at {state_dir} is stamped but holds no data and "
            "no _schema artifact — the first epoch crashed before its "
            "append and the dir predates the schema artifact; re-run the "
            "apply stream (the replayed epoch self-heals) or delete the "
            "dir"
        )
    return spark.createDataFrame(
        [], schema=StructType.fromJson(json.loads(txt))
    )


def _cdc_argmax(df: DataFrame) -> DataFrame:
    """One row per key: the max-(seq, op)-rank op (LSN resolution,
    Debezium-style; 'D' sorts before 'U' so a delete wins a seq tie —
    the original apply's window, unchanged)."""
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy(F.desc("seq"), "op")
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def latest_cdc_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The current CDC-applied table: per-key argmax over the bucketed op
    log (op='D' tombstone rows included — readers filter, the registered
    query does). Recovers an interrupted fold first (open_index), so a
    reader after a crash always sees a committed log; a stamped-but-EMPTY
    dir (crash before the first append) yields an empty typed frame from
    the ``_schema`` artifact instead of a parquet-inference error; the
    read merges footer schemas so payload columns added by later batches
    surface (NULL-backfilled on older rows)."""
    from bert_etl_spark.operators.index_lifecycle import open_index

    if open_index(spark, state_dir, CDC_MARKER, "bkt") is None:
        raise ValueError(f"no applied CDC state under {state_dir}")
    log = _cdc_read_log(spark, state_dir)
    if log is None:
        log = _cdc_empty_state(spark, state_dir)
    return _cdc_argmax(log).drop("opkey", "bkt")


def cdc_lookup(
    spark: SparkSession, state_dir: str, keys: DataFrame
) -> DataFrame:
    """Point-read of the CDC-applied table: the current (argmax) row for
    each requested key, reading ONLY the request keys' ``bkt=`` dirs —
    the keyed-reader shape the bucketed layout exists for. At 100 TB a
    full-table `latest_cdc_state` view is an analytics job; a serving
    lookup is O(request buckets): the bucket list is collected from the
    (bounded) request, the scan path-prunes to those dirs, and the
    argmax runs over the semi-joined slice. op='D' rows are returned
    like the full view (callers filter). ``keys``: any frame with a
    ``k`` column."""
    from bert_etl_spark.operators.index_lifecycle import (
        open_index,
        physical_pruned_scan,
    )

    nb = open_index(spark, state_dir, CDC_MARKER, "bkt")
    if nb is None:
        raise ValueError(f"no applied CDC state under {state_dir}")
    req = keys.select("k").dropDuplicates(["k"])
    # bucket set via an observed collect_set on a shuffle-free noop scan
    # (functions/observe.py): one driver-synchronous job like the old
    # bare collect (round-14 batch 6 removed the distinct()'s 2 extra
    # jobs), but the driver now receives at most nb small ints instead
    # of one row per request key — a BULK request (whole-tenant delete
    # feed) no longer scales driver memory with |request| (round-14
    # advice, 'medium' item #2)
    from bert_etl_spark.functions.observe import observed_distinct

    bkts = observed_distinct(keys, _cdc_bucket(nb))
    scan = physical_pruned_scan(
        spark, state_dir, "bkt", bkts, merge_schema=True
    )
    if scan is None:  # none of the requested buckets hold data
        log = _cdc_read_log(spark, state_dir)
        if log is None:  # stamped-but-empty dir: typed empty frame
            log = _cdc_empty_state(spark, state_dir)
        return log.limit(0).drop("opkey", "bkt")
    hit = scan.join(F.broadcast(req), "k", "left_semi")
    return _cdc_argmax(hit).drop("opkey", "bkt")


def _cdc_bucket_files(spark: SparkSession, state_dir: str) -> dict[int, int]:
    """Data files per bucket of the log — one driver-side FS listing.
    Every appended epoch adds one file per touched bucket; a fold
    leaves one per bucket, so a bucket holding more than one is debt.
    Local-FS fast path: runs per epoch when a fold may be due."""
    from bert_etl_spark.functions.fsfast import local_path

    counts: dict[int, int] = {}
    lp = local_path(state_dir)
    if lp is not None:
        import os

        try:
            kids = os.listdir(lp)
        except FileNotFoundError:
            return counts
        for k in kids:
            if not k.startswith("bkt="):
                continue
            try:
                names = os.listdir(os.path.join(lp, k))
            except (FileNotFoundError, NotADirectoryError):
                continue
            counts[int(k[4:])] = sum(
                1 for f in names if not f.startswith(("_", "."))
            )
        return counts
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(f"{state_dir}/bkt=*/*")
    for s in p.getFileSystem(hconf).globStatus(p) or []:
        if not s.getPath().getName().startswith(("_", ".")):
            b = int(s.getPath().getParent().getName()[4:])
            counts[b] = counts.get(b, 0) + 1
    return counts


def _cdc_log_files(spark: SparkSession, state_dir: str) -> int:
    """Total data files across the log's bucket dirs."""
    return sum(_cdc_bucket_files(spark, state_dir).values())


def cdc_compact_state(spark: SparkSession, state_dir: str) -> int:
    """Fold the op log to its current argmax rows (one per key, op='D'
    tombstones kept), through the shared rewrite commit
    (index_lifecycle.commit_rewrite). Returns the folded row count.
    Single-writer with the apply stream, like all maintenance — the
    in-path ``compact_every`` / ``compact_when_log_files_over`` cadence
    satisfies that by construction. Opens via open_index, so a
    STANDALONE call after a crash mid-fold finishes the interrupted swap
    instead of refusing. The fold RE-COMPUTES ``bkt`` from the key
    instead of trusting the stored partition value — self-healing for any
    row a crashed re-bucket left under a stale modulus dir (the commit
    deletes those dirs), and free when the values agree."""
    return _cdc_rewrite(spark, state_dir, None)


def cdc_rebucket(spark: SparkSession, state_dir: str, new_n_buckets: int) -> int:
    """Migrate the CDC state to a NEW bucket modulus, in place: fold the
    op log to its argmax rows (cdc_compact_state semantics — op='D'
    tombstones kept), re-hash ``bkt = xxhash64(k) mod new_n_buckets``,
    and rewrite through the shared commit with the NEW modulus as the
    sentinel value. Returns the migrated row count. This is the growth
    verb the frozen-at-first-contact modulus needs: at 100 TB a 64-bucket
    layout saturates point-lookup pruning (SCALING.md's 1000-key row).

    Crash safety: a crash before the sentinel leaves the old marker
    intact (open_index clears the partial tmp); a crash after it is
    finished by any reader/apply via open_index, which re-stamps the NEW
    marker — the not-yet-deleted old-modulus dirs then hold pure
    DUPLICATES of rows the rewrite placed under their new buckets,
    masked by every reader's per-key argmax, and the next
    cdc_compact_state removes them physically. Readers are correct in
    every window. Single-writer with the apply stream."""
    new_nb = int(new_n_buckets)
    if new_nb < 1:
        raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")
    return _cdc_rewrite(spark, state_dir, new_nb)


def _cdc_rewrite(spark: SparkSession, state_dir: str, new_nb: int | None) -> int:
    """Fold the op log into ``new_nb`` buckets (None: the standing
    modulus) through commit_rewrite."""
    from bert_etl_spark.operators.index_lifecycle import commit_rewrite, open_index

    nb = open_index(spark, state_dir, CDC_MARKER, "bkt")
    if nb is None:
        raise ValueError(f"no applied CDC state under {state_dir}")
    value = nb if new_nb is None else new_nb
    log = _cdc_read_log(spark, state_dir)
    if log is None:
        # stamped-but-empty state: nothing to fold; the modulus is the
        # only thing to migrate — re-stamp it (atomic rename)
        if value != nb:
            write_int_marker(spark, f"{state_dir}/{CDC_MARKER}", value)
        return 0
    n_parts = int(
        spark.conf.get("spark.sql.shuffle.partitions", "32") or "32"
    )
    return commit_rewrite(
        spark, state_dir, CDC_MARKER, "bkt", nb,
        _cdc_argmax(log).withColumn("bkt", _cdc_bucket(value)),
        min(n_parts, value), value=value,
    )


def _cdc_fold_batch(
    state_dir: str,
    nb: int,
    batch: DataFrame,
    touched: list,
    files: dict[int, int],
    n_parts: int,
) -> None:
    """A due epoch's single write: rewrite the buckets T = the batch's
    buckets ∪ every bucket holding more than one data file (the file
    debt, from ``files`` — _cdc_bucket_files' listing taken for the
    epoch) to ``_cdc_argmax(log[T] ∪ batch)``, through the partial
    commit_rewrite. The argmax drops re-delivered opkeys, so no replay
    guard runs. ``bkt`` is re-hashed and rows are kept only when their
    bucket is in T: a row a crashed re-bucket left under a stale dir in T
    is dropped (its key's current row sits in its own bucket), and no
    bucket outside T is written. Differs from a full fold only in the
    single-file buckets outside T, which keep any within-batch superseded
    rows that every reader's argmax masks."""
    from bert_etl_spark.operators.index_lifecycle import (
        commit_rewrite,
        physical_pruned_scan,
    )

    spark = batch.sparkSession
    debt = [b for b, n in files.items() if n > 1]
    t = sorted(set(touched) | set(debt))
    if not t:  # an empty batch over a folded log: nothing to write
        return
    log = physical_pruned_scan(spark, state_dir, "bkt", t, merge_schema=True)
    ops = batch if log is None else batch.unionByName(
        log, allowMissingColumns=True
    )
    rows = (
        _cdc_argmax(ops)
        .withColumn("bkt", _cdc_bucket(nb))
        .filter(F.col("bkt").isin(t))
    )
    commit_rewrite(
        spark, state_dir, CDC_MARKER, "bkt", nb, rows,
        min(n_parts, len(t)), touched=t,
    )


def cdc_apply_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    n_buckets: int = CDC_BUCKETS_DEFAULT,
    compact_every: int = 0,
    compact_when_log_files_over: int = 0,
):
    """Apply a CDC change stream — rows (k, seq, op, payload...) — into
    the bucketed durable op log (see the section comment for the full
    design). Each epoch: open/recover the log (open_index — finishes an
    interrupted fold), stamp the bucket-modulus marker on first contact,
    checkpoint the batch's ops keyed on opkey = k|seq|op, then either
    append them (the O(touched-buckets) exactly-once ingest) or, when the
    in-lane fold is due, rewrite the batch's buckets and the buckets in
    file debt in one commit (_cdc_fold_batch). ``n_buckets`` is a
    persistent layout property (frozen by the marker; later calls
    validate). Readers: latest_cdc_state."""
    from bert_etl_spark.operators.index_lifecycle import (
        append_batch,
        checkpointed_batch,
        open_index,
    )

    spark = stream.sparkSession
    _SHUFFLE = "spark.sql.shuffle.partitions"
    shuffle_parts = int(spark.conf.get(_SHUFFLE, "32") or "32")

    # The apply epoch's plans are BATCH-BOUNDED by construction (opkey
    # dedup of one micro-batch, broadcast semi/anti against the touched
    # buckets' keys, an O(touched-buckets) append or rewrite) and repeat
    # on every trigger forever — exactly where AQE's per-stage
    # re-planning is pure driver overhead and its runtime choices have
    # nothing to decide (no join-strategy question: the batch side is
    # broadcast by construction; no skew joins; writes are bucket-keyed).
    # Measured round-14 session 3, 3-rep interleaved A/B at sf0.1:
    # streaming_cdc_apply medians 7.81 -> 5.87 s, index_sync 12.89 ->
    # 10.85 s with adaptive off; round 15's 32-core A/B kept it off.
    # With AQE off nothing coalesces the epoch's shuffles, so the epoch
    # also narrows them: shuffle and write widths are
    # min(spark.sql.shuffle.partitions, defaultParallelism), read at
    # each epoch so the width follows the cores registered then (on a
    # cluster with dynamic allocation, the executors present at that
    # epoch — fewer if idle ones were released). Nothing changes once
    # defaultParallelism reaches the shuffle count; on local[4] it
    # removes the 8 waves of near-empty tasks each 32-wide shuffle
    # paid. Measured on local[4] only (there a due epoch rewriting a
    # whole 9.4M-key log took 10.9-16.2 s, vs 12.8-19.8 s for the
    # 32-wide append + fold before, 6 epochs each; SCALING.md); the
    # cluster case is not. With
    # the one-write due epoch, on perfbench index_churn (4 cores) a due
    # epoch went from 7 jobs / 206 tasks to 3 / 25 and pass_s from 7.31
    # to 5.11 s (medians of 12 alternating pairs); an appending epoch
    # keeps its 4 jobs at 21 tasks instead of 133. Both confs are
    # scoped per epoch on the stream's CLONED
    # session ONLY (the micro-batch frame is bound to the clone —
    # outer-session confs never reach its executions, the
    # reliable_metrics finding, batch 4), so the outer SHARED session is
    # never mutated (round-14 advice 'medium' item #1), and restored
    # after. Opt back in per deployment via
    # spark.bert_etl.cdc.applyAdaptive=true (e.g. if a deployment's
    # epochs are large enough that AQE coalescing of the epoch shuffles
    # pays for its re-planning); the widths are then AQE's.
    _AQE = "spark.sql.adaptive.enabled"
    CDC_APPLY_ADAPTIVE_CONF = "spark.bert_etl.cdc.applyAdaptive"

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        keep_aqe = (
            str(spark.conf.get(CDC_APPLY_ADAPTIVE_CONF, "false")).lower()
            == "true"
        )
        if keep_aqe:
            _apply_inner(batch_df, epoch_id, shuffle_parts)
            return
        # toggle ONLY the stream's CLONED session — every epoch plan
        # (the batch frame, its joins, the due rewrite) executes there,
        # and the clone is private to this stream's serial foreachBatch
        # lane. A concurrent query on the outer session keeps its confs,
        # and two apply streams cannot interleave set/restore.
        clone = batch_df.sparkSession
        n_parts = min(shuffle_parts, clone.sparkContext.defaultParallelism)
        scoped = {_AQE: "false", _SHUFFLE: str(n_parts)}
        prev = {key: clone.conf.get(key, None) for key in scoped}
        for key, value in scoped.items():
            clone.conf.set(key, value)
        try:
            _apply_inner(batch_df, epoch_id, n_parts)
        finally:
            for key, value in prev.items():
                if value is None:
                    clone.conf.unset(key)
                else:
                    clone.conf.set(key, value)

    def _apply_inner(batch_df: DataFrame, epoch_id: int, n_parts: int) -> None:
        nb = open_index(spark, state_dir, CDC_MARKER, "bkt")
        ops = batch_df.select(
            "*",
            F.concat_ws("|", "k", "seq", "op").alias("opkey"),
            _cdc_bucket(nb if nb is not None else n_buckets).alias("bkt"),
        )
        if nb is None:
            # first contact: schema artifact FIRST, then the marker — a
            # crash between the two leaves an unmarked dir the replayed
            # epoch re-stamps; a crash after leaves a stamped-but-empty
            # dir whose readers return an empty frame of this schema
            from bert_etl_spark.functions.markers import write_text_marker

            write_text_marker(
                spark,
                f"{state_dir}/{CDC_SCHEMA_ARTIFACT}",
                ops.schema.json(),  # exact round-trip (StructType.fromJson)
            )
            write_int_marker(spark, f"{state_dir}/{CDC_MARKER}", n_buckets)
            nb = n_buckets
        elif nb != n_buckets:
            raise ValueError(
                f"CDC state at {state_dir} was bucketed with {nb} buckets "
                f"but this stream hashes into {n_buckets} — the modulus is "
                "a persistent layout property; keep it, or migrate the "
                "state with cdc_rebucket (fold + rewrite under the new "
                "modulus through the crash-safe swap)"
            )
        with checkpointed_batch(ops, "bkt", "opkey") as (batch, touched):
            due = compact_every and (int(epoch_id) + 1) % int(compact_every) == 0
            files = None
            if not due and compact_when_log_files_over:
                # the count an append would leave: it writes one file per
                # touched bucket
                files = _cdc_bucket_files(spark, state_dir)
                due = (
                    sum(files.values()) + len(touched)
                    > compact_when_log_files_over
                )
            if due:
                if files is None:
                    files = _cdc_bucket_files(spark, state_dir)
                _cdc_fold_batch(state_dir, nb, batch, touched, files, n_parts)
            else:
                append_batch(
                    spark, state_dir, CDC_MARKER, nb, batch, touched, "bkt",
                    min(n_parts, nb), key="opkey",
                )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# Sync-progress marker a cdc_index_sync call leaves in the TARGET index
# dir (it is index-owned progress, not CDC state): the highest op seq
# whose final effect has been applied to the index.
CDC_SYNCED_SEQ = "_synced_seq"


def cdc_index_sync(
    spark: SparkSession,
    state_dir: str,
    index_dir: str,
    upsert,
    delete,
    key_out: str = "vec_id",
    payload_cols: tuple = ("embedding",),
    upsert_delete=None,
) -> tuple[int, int, int]:
    """Converge a durable index onto the CDC-maintained corpus — the
    end-to-end composition the two subsystems exist for: the op log is
    the source of truth for a corpus under churn (the reference's
    ETLState, /root/reference/bert/queues.py:21-35 +
    etl/__init__.py:86-164), and the index families are its derived
    search structures. Each sync reads the per-key argmax view
    (latest_cdc_state), keeps only keys whose FINAL op is newer than the
    index's ``_synced_seq`` watermark, routes op='D' keys to the
    family's ``delete`` verb and the rest to its ``upsert`` verb
    (keyed in-place replace-or-insert — updates re-embed in place,
    resurrections ride the tombstone-artifact swap), then advances the
    watermark. Returns ``(n_deleted, n_replaced, n_inserted)``.

    Convergence under crashes, at-least-once: the watermark is written
    AFTER both verbs commit, so a crash replays a SUPERSET of the delta
    — both verbs are idempotent (delete skips tombstoned/absent keys;
    upsert is a deterministic rewrite), so the replayed sync lands the
    identical end state. Delete-then-upsert order is safe because the
    argmax view yields exactly one final op per key — the two key sets
    are disjoint. Write cost is O(changed keys since last sync), the
    CDC apply's own bound carried through to the index; the read is one
    pass of the (fold-bounded) op log. Single-writer against the index,
    like all maintenance verbs. ``upsert``/``delete`` are the family
    wrappers partially applied to the index dir, e.g.
    ``lambda b: ivf_index_upsert(spark, b, idx)``.

    ``upsert_delete`` (optional): the family's COMBINED verb —
    ``(batch, keys) -> (n_deleted, n_replaced, n_inserted)`` wrapping
    index_lifecycle.upsert_delete_rows — which lands both key sets in
    ONE touched-partition rewrite and sentinel swap instead of two
    sequential verbs (half the per-sync machinery: one batch
    checkpoint, one slim locate scan, one tmp rewrite — round-15).
    Same end state by the combined verb's contract (the argmax delta's
    key sets are disjoint); ``upsert``/``delete`` stay as the
    sequential fallback for families without a combined wrapper."""
    from bert_etl_spark.functions.markers import read_int_marker, write_int_marker
    from bert_etl_spark.functions.release import release

    from pyspark.sql import Observation

    state = latest_cdc_state(spark, state_dir)
    last = read_int_marker(spark, f"{index_dir}/{CDC_SYNCED_SEQ}")
    if last is not None:
        state = state.filter(F.col("seq") > last)
    # the watermark candidate rides the checkpoint job as an observed
    # metric instead of a second aggregate job (round-14 batch 4;
    # reliable_metrics — an already-synced state makes delta
    # runtime-empty, which stock AQE would fold away with the metric)
    from bert_etl_spark.functions.observe import reliable_metrics

    mx_obs = Observation()
    with reliable_metrics(spark):
        delta = state.observe(
            mx_obs, F.max("seq").alias("mx")
        ).localCheckpoint(eager=True)
        mx = mx_obs.get["mx"]
    try:
        if mx is None:
            return (0, 0, 0)
        dels = delta.filter(F.col("op") == "D").select(
            F.col("k").alias(key_out)
        )
        ups = delta.filter(F.col("op") != "D").select(
            F.col("k").alias(key_out), *payload_cols
        )
        if upsert_delete is not None:
            nd, nr, ni = upsert_delete(ups, dels)
        else:
            nd = delete(dels)
            nr, ni = upsert(ups)
        write_int_marker(spark, f"{index_dir}/{CDC_SYNCED_SEQ}", int(mx))
        return (int(nd), int(nr), int(ni))
    finally:
        release(delta)
