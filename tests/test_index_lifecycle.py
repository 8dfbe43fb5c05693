"""Shared durable-index lifecycle (operators/index_lifecycle.py).

Round-10 advice items, all three:
- HIGH: a marker-less dir holding data must never be silently rebuilt from
  the corpus (ingested documents are not corpus-derivable); an interrupted
  compaction must recover from its already-written tmp table, not by
  rebuild.
- MEDIUM: intra-batch duplicate vec_ids collapse to one ingested row.
- LOW: ingest re-validates the marker immediately before its append.

Plus round-11 ask #3: the sign-LSH index gets the full
ingest/stream/compact lifecycle at parity with the MaxSim index.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from bert_etl_spark.functions.markers import read_int_marker, write_int_marker
from bert_etl_spark.operators import registry
from bert_etl_spark.operators import index_lifecycle as life
from bert_etl_spark.operators import similarity as sim

registry.load_all()

SF = "/root/testdata/sf0.001"


def _rows(spark, name):
    df = registry.ALL_QUERIES[name](spark, SF)
    return sorted(tuple(r) for r in df.collect())


def _index_rows(spark, idx):
    return sorted(
        tuple(r)
        for r in spark.read.option("basePath", idx)
        .parquet(idx)
        .select("vec_id", "doc", "cell")
        .collect()
    )


@pytest.fixture()
def maxsim_idx(spark, tmp_path):
    idx = str(tmp_path / "maxsim_index")
    spark.conf.set(sim.MAXSIM_INDEX_DIR_CONF, idx)
    try:
        yield idx
    finally:
        spark.conf.unset(sim.MAXSIM_INDEX_DIR_CONF)


def test_markerless_dir_with_data_refuses_rebuild(spark, maxsim_idx):
    """The HIGH advice item: once ingest exists the index is NOT a pure
    function of the corpus — a marker-less dir holding cell= data with no
    recovery sentinel must refuse, never overwrite."""
    sim._maxsim_assign(spark, SF)  # build + stamp
    # ingest a doc that is NOT in the corpus
    emb = registry.tbl(spark, SF, "embeddings").select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"), "embedding"
    )
    assert sim.maxsim_index_ingest(spark, emb.limit(8), maxsim_idx) == 8
    grown = _index_rows(spark, maxsim_idx)
    # simulate the old failure: marker vanishes (manual deletion / the
    # pre-fix compact crash window)
    os.remove(f"{maxsim_idx}/{sim._MAXSIM_MARKER}")
    with pytest.raises(ValueError, match="no layout marker"):
        sim._maxsim_assign(spark, SF)
    # the data was NOT touched by the refusal
    assert _index_rows(spark, maxsim_idx) == grown


def test_interrupted_compaction_recovers_from_tmp(spark, maxsim_idx):
    """Crash right after the compaction's commit point (tmp written,
    sentinel stamped, marker deleted, NOTHING swapped): the next open
    finishes the swap from tmp — ingested rows survive."""
    sim._maxsim_assign(spark, SF)
    emb = registry.tbl(spark, SF, "embeddings").select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"), "embedding"
    )
    assert sim.maxsim_index_ingest(spark, emb.limit(16), maxsim_idx) == 16
    want = _index_rows(spark, maxsim_idx)

    # manually run compact's steps up to the crash point
    table = spark.read.option("basePath", maxsim_idx).parquet(maxsim_idx)
    tmp = f"{maxsim_idx}{life.TMP_SUFFIX}"
    table.repartition(4, "cell").write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(tmp)
    write_int_marker(
        spark,
        f"{maxsim_idx}/{life.PENDING_SENTINEL}",
        sim.MAXSIM_IVF_CENTROIDS,
    )
    os.remove(f"{maxsim_idx}/{sim._MAXSIM_MARKER}")
    # CRASH here. Next open recovers:
    got = sim._maxsim_assign(spark, SF)
    assert sorted(
        (r.vec_id, r.doc, r.cell)
        for r in got.select("vec_id", "doc", "cell").collect()
    ) == [(r[0], r[1], r[2]) for r in want]
    assert (
        read_int_marker(spark, f"{maxsim_idx}/{sim._MAXSIM_MARKER}")
        == sim.MAXSIM_IVF_CENTROIDS
    )
    assert not os.path.exists(tmp)
    assert not os.path.exists(f"{maxsim_idx}/{life.PENDING_SENTINEL}")


def test_crash_mid_swap_recovers(spark, maxsim_idx):
    """Crash HALFWAY through the per-cell swap (some cells renamed in,
    some still in tmp): re-running the recovery completes it without
    deleting the already-swapped cells."""
    sim._maxsim_assign(spark, SF)
    want = _index_rows(spark, maxsim_idx)
    table = spark.read.option("basePath", maxsim_idx).parquet(maxsim_idx)
    tmp = f"{maxsim_idx}{life.TMP_SUFFIX}"
    table.repartition(4, "cell").write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(tmp)
    write_int_marker(
        spark,
        f"{maxsim_idx}/{life.PENDING_SENTINEL}",
        sim.MAXSIM_IVF_CENTROIDS,
    )
    os.remove(f"{maxsim_idx}/{sim._MAXSIM_MARKER}")
    # swap HALF the cells by hand, then "crash"
    tmp_cells = sorted(glob.glob(f"{tmp}/cell=*"))
    assert len(tmp_cells) > 2
    import shutil

    for d in tmp_cells[: len(tmp_cells) // 2]:
        dst = f"{maxsim_idx}/{os.path.basename(d)}"
        shutil.rmtree(dst, ignore_errors=True)
        os.rename(d, dst)
    got = sim._maxsim_assign(spark, SF)
    assert sorted(
        (r.vec_id, r.doc, r.cell)
        for r in got.select("vec_id", "doc", "cell").collect()
    ) == [(r[0], r[1], r[2]) for r in want]
    assert not os.path.exists(tmp)


def test_abandoned_fresh_build_is_wiped_and_rebuilt(spark, maxsim_idx):
    """A crash mid-BUILD leaves (partial cell dirs, _building sentinel,
    no marker). Ingest refuses without a marker, so the partial data is
    provably corpus-only — the next open wipes and rebuilds."""
    # simulate: partial data + building sentinel, no marker
    partial = sim._maxsim_assign_plan(spark, SF).limit(40)
    partial.repartition(2, "cell").write.partitionBy("cell").mode(
        "append"
    ).parquet(maxsim_idx)
    write_int_marker(
        spark,
        f"{maxsim_idx}/{life.BUILDING_SENTINEL}",
        sim.MAXSIM_IVF_CENTROIDS,
    )
    got = sim._maxsim_assign(spark, SF)
    want = sorted(
        (r.vec_id, r.doc, r.cell)
        for r in sim._maxsim_assign_plan(spark, SF)
        .select("vec_id", "doc", "cell")
        .collect()
    )
    assert (
        sorted(
            (r.vec_id, r.doc, r.cell)
            for r in got.select("vec_id", "doc", "cell").collect()
        )
        == want
    )
    assert not os.path.exists(f"{maxsim_idx}/{life.BUILDING_SENTINEL}")


def test_ingest_collapses_intra_batch_duplicates(spark, maxsim_idx):
    """The MEDIUM advice item: duplicate vec_ids WITHIN one batch (an
    at-least-once source duplicating inside a micro-batch) must land
    exactly once."""
    sim._maxsim_assign(spark, SF)
    emb = registry.tbl(spark, SF, "embeddings").select(
        (F.col("vec_id") + 7_000_000).alias("vec_id"), "embedding"
    ).limit(8)
    doubled = emb.unionAll(emb)  # every vec_id twice in the same batch
    assert sim.maxsim_index_ingest(spark, doubled, maxsim_idx) == 8
    table = spark.read.option("basePath", maxsim_idx).parquet(maxsim_idx)
    per_key = (
        table.filter(F.col("vec_id") >= 7_000_000)
        .groupBy("vec_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert per_key == 1


def test_ingest_tripwire_detects_concurrent_marker_loss(spark, maxsim_idx):
    """The LOW advice item: the marker is re-validated immediately before
    the append — a mid-flight marker change (single-writer violation)
    refuses instead of appending into swapped-out dirs."""
    sim._maxsim_assign(spark, SF)
    emb = registry.tbl(spark, SF, "embeddings").select(
        (F.col("vec_id") + 9_000_000).alias("vec_id"), "embedding"
    ).limit(4)
    from bert_etl_spark.operators.index_lifecycle import ingest_rows

    assigned = (
        emb.select("vec_id", F.expr(sim.as_double("embedding")).alias("e"))
        .withColumn("nrm", F.expr(sim.l2_norm("e")))
        .withColumn("doc", F.expr(f"vec_id div {sim.MAXSIM_GROUP}"))
        .withColumn("cell", F.lit(0))
    )
    # sabotage the marker between entry validation and the append by
    # passing a wrong expected value straight to the guarded writer
    with pytest.raises(ValueError, match="single-writer"):
        ingest_rows(
            spark, maxsim_idx, sim._MAXSIM_MARKER, 12345, assigned, "cell", 2
        )


def test_compact_then_queries_still_green_and_debris_cleared(
    spark, maxsim_idx
):
    """Full compact through the new protocol: results identical, marker
    re-stamped, sentinel+tmp gone; stale debris (tmp from a crash AFTER
    the re-stamp) is cleared by the next open."""
    base = _rows(spark, "sim_maxsim_ivf")
    emb = registry.tbl(spark, SF, "embeddings").select(
        (F.col("vec_id") + 3_000_000).alias("vec_id"), "embedding"
    )
    sim.maxsim_index_ingest(spark, emb.limit(8), maxsim_idx)
    after_ingest = _rows(spark, "sim_maxsim_ivf")
    n = spark.read.option("basePath", maxsim_idx).parquet(maxsim_idx).count()
    assert sim.maxsim_index_compact(spark, maxsim_idx) == n
    assert _rows(spark, "sim_maxsim_ivf") == after_ingest
    # plant post-commit debris; open clears it
    os.makedirs(f"{maxsim_idx}{life.TMP_SUFFIX}", exist_ok=True)
    write_int_marker(
        spark, f"{maxsim_idx}/{life.PENDING_SENTINEL}", sim.MAXSIM_IVF_CENTROIDS
    )
    # marker is present, so open treats both as stale and removes them
    from bert_etl_spark.operators.index_lifecycle import open_index

    assert (
        open_index(spark, maxsim_idx, sim._MAXSIM_MARKER, "cell")
        == sim.MAXSIM_IVF_CENTROIDS
    )
    assert not os.path.exists(f"{maxsim_idx}{life.TMP_SUFFIX}")
    assert not os.path.exists(f"{maxsim_idx}/{life.PENDING_SENTINEL}")
    assert base is not None  # silence unused warning; base checked above


# ---------------------------------------------------------------------------
# sign-LSH lifecycle parity (round-11 ask #3)
# ---------------------------------------------------------------------------


def test_simlsh_ingest_matches_rebuild_and_is_idempotent(spark, tmp_path):
    """Ingesting the held-out half into a standing sign-LSH index must
    equal a fresh full build row-for-row; re-delivery is a no-op;
    refusal paths mirror the MaxSim ones."""
    emb = registry.tbl(spark, SF, "embeddings")
    is_new = F.col("vec_id") % 5 == 0
    arrivals = emb.filter(is_new).select("vec_id", "embedding")

    idx = str(tmp_path / "lsh_grow")
    full = sim._prepared(spark, SF).withColumn(
        "bucket", F.expr(sim.sign_bucket("e"))
    )
    standing = full.filter(~is_new).drop("label")
    standing.repartition(4, "bucket").write.partitionBy("bucket").mode(
        "overwrite"
    ).parquet(idx)
    write_int_marker(spark, f"{idx}/{sim._SIMLSH_MARKER}", sim.N_PLANES)

    n = sim.simlsh_index_ingest(spark, arrivals, idx)
    assert n == arrivals.count() and n > 0
    grown = sorted(
        (r.vec_id, r.bucket)
        for r in spark.read.option("basePath", idx)
        .parquet(idx)
        .select("vec_id", "bucket")
        .collect()
    )
    want = sorted(
        (r.vec_id, r.bucket)
        for r in full.select("vec_id", "bucket").collect()
    )
    assert grown == want
    # idempotent re-delivery
    assert sim.simlsh_index_ingest(spark, arrivals, idx) == 0
    # refusals
    with pytest.raises(ValueError, match="no standing"):
        sim.simlsh_index_ingest(spark, arrivals, str(tmp_path / "nowhere"))
    write_int_marker(spark, f"{idx}/{sim._SIMLSH_MARKER}", 99)
    with pytest.raises(ValueError, match="plane"):
        sim.simlsh_index_ingest(spark, arrivals, idx)


def test_simlsh_stream_and_compact_lifecycle(spark, tmp_path):
    """Streaming ingest grows the sign-LSH index to rebuild parity, a
    replayed source adds nothing, compaction restores one file per
    bucket and keeps sim_lsh_index_probe results identical."""
    emb = registry.tbl(spark, SF, "embeddings")
    is_new = F.col("vec_id") % 5 == 0
    arrivals = emb.filter(is_new).select("vec_id", "embedding")
    src = str(tmp_path / "arrivals")
    arrivals.repartition(3).write.mode("overwrite").parquet(src)

    idx = str(tmp_path / "lsh_stream")
    full = sim._prepared(spark, SF).withColumn(
        "bucket", F.expr(sim.sign_bucket("e"))
    )
    full.filter(~is_new).drop("label").repartition(4, "bucket").write.partitionBy(
        "bucket"
    ).mode("overwrite").parquet(idx)
    write_int_marker(spark, f"{idx}/{sim._SIMLSH_MARKER}", sim.N_PLANES)

    def _drain(ckpt: str):
        stream = (
            spark.readStream.schema(arrivals.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = sim.simlsh_index_stream(stream, idx, str(tmp_path / ckpt))
        q.awaitTermination()

    _drain("ckpt1")
    total = full.count()
    assert (
        spark.read.option("basePath", idx).parquet(idx).count() == total
    )
    _drain("ckpt2")  # full replay: zero growth
    assert (
        spark.read.option("basePath", idx).parquet(idx).count() == total
    )
    # probe through the grown index, then compact, then probe again
    spark.conf.set(sim.SIMLSH_INDEX_DIR_CONF, idx)
    try:
        before = _rows(spark, "sim_lsh_index_probe")
        frag = max(
            len(glob.glob(f"{d}/*.parquet"))
            for d in glob.glob(f"{idx}/bucket=*")
        )
        assert frag > 1
        assert sim.simlsh_index_compact(spark, idx) == total
        for d in glob.glob(f"{idx}/bucket=*"):
            assert len(glob.glob(f"{d}/*.parquet")) == 1, d
        assert (
            read_int_marker(spark, f"{idx}/{sim._SIMLSH_MARKER}")
            == sim.N_PLANES
        )
        assert not glob.glob(f"{idx}{life.TMP_SUFFIX}")
        assert _rows(spark, "sim_lsh_index_probe") == before
    finally:
        spark.conf.unset(sim.SIMLSH_INDEX_DIR_CONF)


def _mk_simlsh_idx(spark, tmp_path, name):
    """Standing 4-plane sign-LSH index over the sf0.001 embeddings (the
    test_simlsh_ingest fixture shape, via the real build verb)."""
    idx = str(tmp_path / name)
    assign = sim._prepared(spark, SF).withColumn(
        "bucket", F.expr(sim.sign_bucket("e"))
    ).drop("label")
    assert life.open_index(spark, idx, sim._SIMLSH_MARKER, "bucket") is None
    life.build_index(
        spark, idx, sim._SIMLSH_MARKER, sim.N_PLANES, assign, "bucket", 4
    )
    return idx


def test_simlsh_rebuild_migrates_plane_count(spark, tmp_path):
    """simlsh_index_rebuild re-hashes the LIVE rows (standing + ingested
    − tombstoned) under the new plane count in place: marker re-stamped,
    every row's bucket equals its new-plane hash, ingested-only rows
    preserved, tombstoned rows physically gone, and shrink-back works
    too."""
    idx = _mk_simlsh_idx(spark, tmp_path, "lsh_mig")
    emb = registry.tbl(spark, SF, "embeddings")
    arrivals = emb.select(
        (F.col("vec_id") + 4_000_000).alias("vec_id"), "embedding"
    ).limit(16)
    n_in = sim.simlsh_index_ingest(spark, arrivals, idx)
    assert n_in == 16
    dead = spark.createDataFrame([(1,), (2,)], "vec_id long")
    assert sim.simlsh_index_delete(spark, dead, idx) == 2
    total = emb.count() + n_in - 2

    n = sim.simlsh_index_rebuild(spark, idx, 6)
    assert n == total
    assert read_int_marker(spark, f"{idx}/{sim._SIMLSH_MARKER}") == 6
    rows = (
        spark.read.option("basePath", idx)
        .parquet(idx)
        .select(
            "vec_id",
            "bucket",
            F.expr(sim.sign_bucket("e", sim.planes_for(6)))
            .cast("int")
            .alias("want"),
        )
    )
    assert rows.count() == total
    assert rows.filter(F.col("bucket") != F.col("want")).count() == 0
    ids = {r.vec_id for r in rows.select("vec_id").collect()}
    assert 4_000_000 in ids or any(i >= 4_000_000 for i in ids)
    assert not ids & {1, 2}  # tombstoned rows physically gone
    assert not glob.glob(f"{idx}/_tombstones/*.parquet")
    # grown fan-out actually used
    got_buckets = {
        int(d.split("bucket=")[1]) for d in glob.glob(f"{idx}/bucket=*")
    }
    assert max(got_buckets) >= 16  # beyond the 4-plane range
    # shrink back: prefix-planes property, counts conserved
    assert sim.simlsh_index_rebuild(spark, idx, sim.N_PLANES) == total
    assert (
        read_int_marker(spark, f"{idx}/{sim._SIMLSH_MARKER}")
        == sim.N_PLANES
    )
    back = spark.read.option("basePath", idx).parquet(idx)
    assert back.count() == total
    assert (
        back.filter(F.col("bucket") >= (1 << sim.N_PLANES)).count() == 0
    )
    # refusals
    with pytest.raises(ValueError, match="nothing to rebuild"):
        sim.simlsh_index_rebuild(spark, str(tmp_path / "nope"), 6)
    with pytest.raises(ValueError, match="out of range"):
        sim.simlsh_index_rebuild(spark, idx, 0)


def test_simlsh_migrate_probe_prunes_to_query_buckets(
    spark, tmp_path, partitions_read, sign_buckets
):
    """The registered migration demo's probe reads ONLY the queries'
    bucket= dirs of the migrated index — a garbage file planted in an
    un-probed bucket is never touched and the rows match the oracle-
    checked baseline."""
    base = _rows(spark, "sim_lsh_rebuild_migrate")
    from bert_etl_spark.functions.scratch import session_scratch_dir

    idx = session_scratch_dir(spark, "lsh_migrate", SF)
    assert read_int_marker(spark, f"{idx}/{sim._SIMLSH_MARKER}") == 6
    qs_buckets = sign_buckets(
        _query_vectors(spark, sim.N_QUERIES), sim.planes_for(6)
    )
    victim = next(
        int(d.split("bucket=")[1])
        for d in sorted(glob.glob(f"{idx}/bucket=*"))
        if int(d.split("bucket=")[1]) not in qs_buckets
    )
    garbage = f"{idx}/bucket={victim}/garbage.parquet"
    with open(garbage, "w") as fh:
        fh.write("not parquet")
    try:
        df = registry.ALL_QUERIES["sim_lsh_rebuild_migrate"](spark, SF)
        assert sorted(tuple(r) for r in df.collect()) == base
        # the garbage file is listed with the root but never opened: at
        # run time the scan reads exactly the queries' bucket dirs
        probed = qs_buckets & _data_parts(idx, "bucket")
        assert partitions_read(df, idx) == [len(probed)]
    finally:
        os.remove(garbage)


def test_index_file_stats_reports_fragmentation(spark, tmp_path):
    """index_file_stats is the compaction trigger signal: file counts per
    partition rise with ingests and return to 1 after compaction; row
    counts are conserved throughout."""
    idx = str(tmp_path / "stats_idx")
    spark.conf.set(sim.MAXSIM_INDEX_DIR_CONF, idx)
    try:
        sim._maxsim_assign(spark, SF)
        emb = registry.tbl(spark, SF, "embeddings").select(
            (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
        )
        sim.maxsim_index_ingest(spark, emb.limit(32), idx)
        stats = life.index_file_stats(spark, idx, "cell").collect()
        assert stats
        total_rows = sum(r["n_rows"] for r in stats)
        assert max(r["n_files"] for r in stats) > 1
        sim.maxsim_index_compact(spark, idx)
        after = life.index_file_stats(spark, idx, "cell").collect()
        assert all(r["n_files"] == 1 for r in after)
        assert sum(r["n_rows"] for r in after) == total_rows
    finally:
        spark.conf.unset(sim.MAXSIM_INDEX_DIR_CONF)


# ---------------------------------------------------------------------------
# durable single-vector IVF index (round-11 ask #2)
# ---------------------------------------------------------------------------


def _query_vectors(spark, n: int) -> list[list[float]]:
    return [
        r["embedding"]
        for r in registry.tbl(spark, SF, "embeddings")
        .filter(F.col("vec_id") < n)
        .collect()
    ]


def _data_parts(idx: str, part_col: str) -> set[int]:
    """Partition values of ``idx`` whose dir holds a data file."""
    return {
        int(d.split("=", 1)[1])
        for d in os.listdir(idx)
        if d.startswith(f"{part_col}=")
        and any(not f.startswith(("_", ".")) for f in os.listdir(f"{idx}/{d}"))
    }


def _assert_reads_probed_cells(
    spark, idx, name, n_queries, n_probes, partitions_read, top_cells
):
    """Run the registered IVF-family probe ``name`` over the standing
    index ``idx``: its cell-joined index scan must read exactly the cells
    the queries probe (computed in Python from the frozen codebook), and
    fewer than the index holds — the join's dynamic partition pruning at
    work, which no plan string or inputFiles() can show."""
    probed = top_cells(
        _query_vectors(spark, n_queries), sim.read_codebook(spark, idx),
        n_probes,
    ) & _data_parts(idx, "cell")
    df = registry.ALL_QUERIES[name](spark, SF)
    df.collect()
    reads = partitions_read(df, idx)
    assert reads and min(reads) == len(probed), (reads, probed)
    assert len(probed) < len(_data_parts(idx, "cell"))


def _mtimes(idx: str) -> dict[str, float]:
    out = {}
    for root, _dirs, files in os.walk(idx):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getmtime(p)
    return out


def test_ivf_index_matches_session_path_and_prunes(
    spark, tmp_path, partitions_read, top_cells
):
    """sim_ivf through the durable index: identical results to the
    session path, partitionBy(cell) layout + marker + frozen codebook,
    rereads never rebuild, the probe's index scan reads only the probed
    cells at run time, and a quantizer-marker mismatch refuses loudly."""
    base = _rows(spark, "sim_ivf")  # session path
    idx = str(tmp_path / "ivf_index")
    spark.conf.set(sim.IVF_INDEX_DIR_CONF, idx)
    try:
        assert _rows(spark, "sim_ivf") == base and base
        assert (
            read_int_marker(spark, f"{idx}/{sim._IVF_MARKER}")
            == sim.N_CENTROIDS
        )
        assert os.path.isdir(f"{idx}/_codebook")
        cells = [d for d in os.listdir(idx) if d.startswith("cell=")]
        assert len(cells) > 1
        before = _mtimes(idx)
        assert _rows(spark, "sim_ivf") == base
        assert _mtimes(idx) == before
        # probe-side pruning, at run time: the executed index scan reads
        # exactly the probed cell= dirs, fewer than the index holds
        _assert_reads_probed_cells(
            spark, idx, "sim_ivf", sim.N_QUERIES, sim.N_PROBES,
            partitions_read, top_cells,
        )
        # marker mismatch refuses
        write_int_marker(spark, f"{idx}/{sim._IVF_MARKER}", 99)
        with pytest.raises(ValueError, match="centroid"):
            sim._ivf_assign(spark, SF)
    finally:
        spark.conf.unset(sim.IVF_INDEX_DIR_CONF)


def test_ivf_ingest_stream_compact_lifecycle(spark, tmp_path):
    """The IVF index's full lifecycle: ingest of held-out vectors reaches
    exact rebuild parity, replay is a no-op, streaming ingest drains to
    the same table, compaction restores one file per cell and keeps
    sim_ivf results identical."""
    emb = registry.tbl(spark, SF, "embeddings")
    is_new = F.col("vec_id") % 6 == 0
    arrivals = emb.filter(is_new).select("vec_id", "embedding")

    idx = str(tmp_path / "ivf_grow")
    full = sim._ivf_assign_plan(spark, SF)
    full.filter(~is_new).repartition(4, "cell").write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(idx)
    sim._write_codebook(spark, SF, idx, sim._ivf_centroids(spark, SF))
    write_int_marker(spark, f"{idx}/{sim._IVF_MARKER}", sim.N_CENTROIDS)

    n = sim.ivf_index_ingest(spark, arrivals, idx)
    assert n == arrivals.count() and n > 0
    grown = sorted(
        (r.vec_id, r.cell)
        for r in spark.read.option("basePath", idx)
        .parquet(idx)
        .select("vec_id", "cell")
        .collect()
    )
    want = sorted(
        (r.vec_id, r.cell) for r in full.select("vec_id", "cell").collect()
    )
    assert grown == want
    assert sim.ivf_index_ingest(spark, arrivals, idx) == 0  # replay no-op
    with pytest.raises(ValueError, match="no standing"):
        sim.ivf_index_ingest(spark, arrivals, str(tmp_path / "nowhere"))

    # streaming sibling over a disjoint second arrival set
    extra = emb.filter(F.col("vec_id") % 6 == 3).select(
        (F.col("vec_id") + 4_000_000).alias("vec_id"), "embedding"
    )
    src = str(tmp_path / "arrivals")
    extra.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(extra.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sim.ivf_index_stream(stream, idx, str(tmp_path / "ckpt"))
    q.awaitTermination()
    total = len(want) + extra.count()
    assert (
        spark.read.option("basePath", idx).parquet(idx).count() == total
    )

    # compact: one file per cell, results preserved through the probe path
    spark.conf.set(sim.IVF_INDEX_DIR_CONF, idx)
    try:
        before = _rows(spark, "sim_ivf")
        assert sim.ivf_index_compact(spark, idx) == total
        for d in glob.glob(f"{idx}/cell=*"):
            assert len(glob.glob(f"{d}/*.parquet")) == 1, d
        assert not glob.glob(f"{idx}{life.TMP_SUFFIX}")
        assert _rows(spark, "sim_ivf") == before
    finally:
        spark.conf.unset(sim.IVF_INDEX_DIR_CONF)


def test_ivf_filtered_composes_partition_and_pushed_filters(spark, tmp_path):
    """Filtered ANN on the durable index: the probe's cell pruning
    (PartitionFilters) and the payload predicate (PushedFilters on label)
    must BOTH reach the same scan — and results must equal the session
    path's."""
    base = _rows(spark, "sim_ivf_filtered")  # session path
    idx = str(tmp_path / "ivf_filtered_idx")
    spark.conf.set(sim.IVF_INDEX_DIR_CONF, idx)
    try:
        assert _rows(spark, "sim_ivf_filtered") == base and base
        df = registry.ALL_QUERIES["sim_ivf_filtered"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters:" in plan
        pf = plan.split("PartitionFilters:")[1].split("]")[0]
        assert "cell" in pf
        assert "In(label" in plan.split("PushedFilters:")[1].split("]")[0]
    finally:
        spark.conf.unset(sim.IVF_INDEX_DIR_CONF)


def test_ivf_delete_masks_probes_then_compact_applies(
    spark, tmp_path, partitions_read, top_cells
):
    """Tombstone deletes (the lifecycle's DELETE verb): recording is
    idempotent and bounded to live keys, probes mask immediately, the
    probe plan still path-prunes, compaction applies tombstones
    physically and clears them, and results are identical before and
    after the physical apply."""
    idx = str(tmp_path / "ivf_del")
    sim._ivf_assign(spark, SF, idx)
    table = spark.read.option("basePath", idx).parquet(idx)
    total = table.count()
    doomed = (
        sim._prepared(spark, SF)
        .filter(F.col("vec_id") % 10 == 3)
        .select("vec_id")
    )
    n_doomed = doomed.count()
    assert n_doomed > 0
    assert sim.ivf_index_delete(spark, doomed, idx) == n_doomed
    # masked immediately, without a rewrite
    masked = sim._ivf_assign(spark, SF, idx)
    assert masked.filter(F.col("vec_id") % 10 == 3).count() == 0
    assert masked.count() == total - n_doomed
    # idempotent: re-delete and never-present keys record nothing
    assert sim.ivf_index_delete(spark, doomed, idx) == 0
    ghost = spark.range(10**9, 10**9 + 5).select(F.col("id").alias("vec_id"))
    assert sim.ivf_index_delete(spark, ghost, idx) == 0
    # the probed scan masks too, and the run-time pruning reaches the
    # index scan through the tombstone anti-join
    cells = sorted(
        r["cell"] for r in masked.select("cell").distinct().limit(2).collect()
    )
    pruned = life.pruned_scan(spark, idx, "cell", cells)
    assert pruned.filter(F.col("vec_id") % 10 == 3).count() == 0
    spark.conf.set(sim.IVF_INDEX_DIR_CONF, idx)
    try:
        _assert_reads_probed_cells(
            spark, idx, "sim_ivf", sim.N_QUERIES, sim.N_PROBES,
            partitions_read, top_cells,
        )
    finally:
        spark.conf.unset(sim.IVF_INDEX_DIR_CONF)
    res_masked = sorted(
        tuple(r)
        for r in sim._ivf_topk(spark, SF, masked, idx).collect()
    )
    # re-ingesting a tombstoned key is a no-op (documented: compact first)
    arrival = (
        sim._prepared(spark, SF)
        .filter(F.col("vec_id") % 10 == 3)
        .limit(1)
        .select("vec_id", F.col("e").alias("embedding"))
    )
    assert sim.ivf_index_ingest(spark, arrival, idx) == 0
    assert (
        sim._ivf_assign(spark, SF, idx)
        .filter(F.col("vec_id") % 10 == 3)
        .count()
        == 0
    )
    # compaction applies tombstones physically and clears them
    assert sim.ivf_index_compact(spark, idx) == total - n_doomed
    assert life.tombstones(spark, idx) is None
    physical = spark.read.option("basePath", idx).parquet(idx)
    assert physical.filter(F.col("vec_id") % 10 == 3).count() == 0
    assert physical.count() == total - n_doomed
    after = sorted(
        tuple(r)
        for r in sim._ivf_topk(
            spark, SF, sim._ivf_assign(spark, SF, idx), idx
        ).collect()
    )
    assert after == res_masked
    # a deleted-then-compacted key CAN be re-ingested (resurrection path)
    assert sim.ivf_index_ingest(spark, arrival, idx) == 1


def test_delete_refuses_without_or_against_wrong_marker(spark, tmp_path):
    idx = str(tmp_path / "ivf_del_guard")
    keys = spark.range(3).select(F.col("id").alias("vec_id"))
    with pytest.raises(ValueError, match="nothing to delete"):
        life.delete_keys(spark, idx, sim._IVF_MARKER, sim.N_CENTROIDS, keys)
    sim._ivf_assign(spark, SF, idx)
    with pytest.raises(ValueError, match="layout"):
        life.delete_keys(spark, idx, sim._IVF_MARKER, 99, keys)


def test_ivf_delete_stream_masks_and_replay_is_noop(spark, tmp_path):
    """Streaming deletes (foreachBatch → delete_keys): the drained feed
    masks every key it carried, and a full replay through a fresh
    checkpoint records zero new tombstones (idempotence — the at-least-
    once contract the ingest stream already proves, for the delete verb)."""
    idx = str(tmp_path / "ivf_sdel")
    sim._ivf_assign(spark, SF, idx)
    doomed = (
        sim._prepared(spark, SF)
        .filter(F.col("vec_id") % 10 == 4)
        .select("vec_id")
    )
    n_doomed = doomed.count()
    doomed.repartition(2).write.parquet(str(tmp_path / "feed"))
    stream = lambda: (  # noqa: E731
        spark.readStream.schema("vec_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )
    sim.ivf_index_delete_stream(
        stream(), idx, str(tmp_path / "ck1")
    ).awaitTermination()
    masked = sim._ivf_assign(spark, SF, idx)
    assert masked.filter(F.col("vec_id") % 10 == 4).count() == 0
    t = life.tombstones(spark, idx)
    assert t is not None and t.count() == n_doomed
    # replay: fresh checkpoint, same feed -> no new tombstones
    sim.ivf_index_delete_stream(
        stream(), idx, str(tmp_path / "ck2")
    ).awaitTermination()
    assert life.tombstones(spark, idx).count() == n_doomed


def _assert_reads_term_buckets(spark, idx, df, terms, partitions_read):
    """Collect the text probe ``df`` (not run before — a re-run reports
    no listing): every scan of the posting index
    ``idx`` must read exactly the bucket dirs holding the query terms'
    postings (found from the data, not the hash), fewer than the index
    holds — the static PartitionFilter the constant terms fold to."""
    buckets = {
        r["bucket"]
        for r in spark.read.option("basePath", idx)
        .parquet(idx)
        .filter(F.col("token").isin(*terms))
        .select("bucket")
        .distinct()
        .collect()
    }
    assert df.collect()
    reads = partitions_read(df, idx)
    assert reads and set(reads) == {len(buckets)}, (reads, buckets)
    assert len(buckets) < len(_data_parts(idx, "bucket"))


def test_text_index_matches_session_and_prunes(
    spark, tmp_path, partitions_read
):
    """The durable inverted index: identical BM25 results to the session
    path, bucket layout + marker + frozen _collection_stats, rereads
    never rebuild, probes read only the query terms' bucket dirs, and a
    bucket-modulus mismatch refuses."""
    from bert_etl_spark.operators import text as tx

    base = _rows(spark, "text_bm25_topk")  # session path
    idx = str(tmp_path / "textidx")
    spark.conf.set(tx.TEXTIDX_DIR_CONF, idx)
    try:
        assert _rows(spark, "text_bm25_topk") == base and base
        assert (
            read_int_marker(spark, f"{idx}/{tx._TEXTIDX_MARKER}")
            == tx.TEXTIDX_BUCKETS
        )
        assert os.path.isdir(f"{idx}/{tx._STATS_DIR}")
        before = _mtimes(idx)
        assert _rows(spark, "text_bm25_topk") == base
        assert _mtimes(idx) == before  # reread never rebuilds
        scored = tx.bm25_scores(spark, SF)
        _assert_reads_term_buckets(
            spark, idx, scored, tx.BM25_TERMS, partitions_read
        )
        write_int_marker(spark, f"{idx}/{tx._TEXTIDX_MARKER}", 99)
        with pytest.raises(ValueError, match="bucket"):
            tx.bm25_scores(spark, SF)
    finally:
        spark.conf.unset(tx.TEXTIDX_DIR_CONF)


def test_text_index_ingest_delete_compact_lifecycle(spark, tmp_path):
    """Ingest a synthetic doc made of query terms → it must appear (scored
    with FROZEN collection stats — the documented contract); replay is a
    no-op; doc-level tombstone masks every posting; compaction applies
    tombstones and preserves the surviving results and layout."""
    from bert_etl_spark.operators import text as tx

    idx = str(tmp_path / "textidx2")
    spark.conf.set(tx.TEXTIDX_DIR_CONF, idx)
    try:
        base = _rows(spark, "text_bm25_topk")
        new_doc = spark.createDataFrame(
            [(999999, "dup dup dup vector spark dup")],
            schema="doc_id long, text string",
        )
        n = tx.textidx_ingest(spark, new_doc, idx)
        assert n > 0
        assert tx.textidx_ingest(spark, new_doc, idx) == 0  # replay no-op
        with_new = _rows(spark, "text_bm25_topk")
        assert any(r[0] == 999999 for r in with_new)  # rare terms -> top-k
        # delete the doc again: every posting masked, results return
        assert tx.textidx_delete(spark, new_doc.select("doc_id"), idx) == 1
        assert tx.textidx_delete(spark, new_doc.select("doc_id"), idx) == 0
        assert _rows(spark, "text_bm25_topk") == base
        # compact: physical apply + layout/results preserved
        tx.textidx_compact(spark, idx)
        assert life.tombstones(spark, idx) is None
        table = spark.read.option("basePath", idx).parquet(idx)
        assert table.filter(F.col("doc_id") == 999999).count() == 0
        assert _rows(spark, "text_bm25_topk") == base
        buckets = [d for d in os.listdir(idx) if d.startswith("bucket=")]
        for b in buckets:
            files = [
                f for f in os.listdir(f"{idx}/{b}")
                if not f.startswith(("_", "."))
            ]
            assert len(files) == 1, (b, files)
    finally:
        spark.conf.unset(tx.TEXTIDX_DIR_CONF)


def test_hybrid_rrf_composes_both_durable_indexes(spark, tmp_path):
    """Integration: with BOTH the lexical posting index and the dense IVF
    index conf'd, sim_hybrid_rrf must return exactly the session-path
    results — the fused retrieval stack running entirely off at-rest
    indexes."""
    from bert_etl_spark.operators import text as tx

    base = _rows(spark, "sim_hybrid_rrf")
    spark.conf.set(tx.TEXTIDX_DIR_CONF, str(tmp_path / "tix"))
    spark.conf.set(sim.IVF_INDEX_DIR_CONF, str(tmp_path / "ivf"))
    try:
        assert _rows(spark, "sim_hybrid_rrf") == base and base
    finally:
        spark.conf.unset(tx.TEXTIDX_DIR_CONF)
        spark.conf.unset(sim.IVF_INDEX_DIR_CONF)


def test_textidx_stream_ingest_is_exactly_once(spark, tmp_path):
    """Streamed doc ingest into the text index: the drained feed's docs
    become searchable, and a full replay through a fresh checkpoint
    appends zero posting rows (pkey anti-join absorbs re-delivery)."""
    from bert_etl_spark.operators import text as tx

    idx = str(tmp_path / "tix_stream")
    spark.conf.set(tx.TEXTIDX_DIR_CONF, idx)
    try:
        tx.bm25_scores(spark, SF).count()  # build the standing index
        feed = spark.createDataFrame(
            [(888880 + i, "dup vector dup spark dup") for i in range(4)],
            schema="doc_id long, text string",
        )
        feed.repartition(2).write.parquet(str(tmp_path / "feed"))
        stream = lambda: (  # noqa: E731
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "feed"))
        )
        tx.textidx_stream(stream(), idx, str(tmp_path / "ck1")).awaitTermination()
        table = spark.read.option("basePath", idx).parquet(idx)
        n_new = table.filter(F.col("doc_id") >= 888880).count()
        assert n_new == 4 * 3  # 4 docs x 3 distinct tokens
        top = _rows(spark, "text_bm25_topk")
        assert sum(1 for r in top if r[0] >= 888880) > 0
        # replay, fresh checkpoint: nothing appended
        tx.textidx_stream(stream(), idx, str(tmp_path / "ck2")).awaitTermination()
        assert (
            spark.read.option("basePath", idx).parquet(idx)
            .filter(F.col("doc_id") >= 888880)
            .count()
            == n_new
        )
    finally:
        spark.conf.unset(tx.TEXTIDX_DIR_CONF)


def test_compact_removes_fully_tombstoned_partition(spark, tmp_path):
    """Round-11 HIGH advice (resurrection bug): when EVERY row of a
    partition is tombstoned, the compaction tmp rewrite emits no dir for
    that partition — the swap alone left the stale root dir in place and
    then cleared the tombstones, physically resurrecting the deleted
    rows. compact_index must delete root part dirs with no tmp
    counterpart before clearing the applied tombstone files."""
    idx = str(tmp_path / "full_tomb")
    rows = spark.createDataFrame(
        [(i, i % 2) for i in range(10)], schema="vec_id long, cell int"
    )
    life.build_index(spark, idx, "_n_centroids", 2, rows, "cell", 2)
    doomed = spark.createDataFrame(
        [(i,) for i in range(10) if i % 2 == 1], schema="vec_id long"
    )
    assert life.delete_keys(spark, idx, "_n_centroids", 2, doomed) == 5
    assert life.compact_index(spark, idx, "_n_centroids", "cell", 2) == 5
    # physically gone: the cell=1 dir no longer exists on disk
    assert not glob.glob(f"{idx}/cell=1")
    physical = spark.read.option("basePath", idx).parquet(idx)
    assert physical.count() == 5
    assert physical.filter(F.col("cell") == 1).count() == 0
    # no tombstones left masking anything — the table IS the truth
    assert life.tombstones(spark, idx) is None
    # and the masked reader agrees with the physical table
    masked = life.apply_tombstones(spark, idx, physical)
    assert masked.count() == 5
    # a second compact over the settled table is a clean no-op rewrite
    assert life.compact_index(spark, idx, "_n_centroids", "cell", 2) == 5
    assert spark.read.option("basePath", idx).parquet(idx).count() == 5


def test_ingest_anti_join_reads_only_touched_partitions(spark, tmp_path):
    """Round-11 top ask: ingest's across-batch anti-join must be
    O(touched partitions), not O(index). Proof is behavioral, not just
    plan-text: a garbage (non-parquet) file planted in an UNTOUCHED
    partition dir would crash any full-index scan — the pruned ingest
    never reads it. Deterministic assignment makes the pruning lossless
    (a duplicate key always lands in the partition of its standing row),
    which the duplicate-arrival assertion exercises across the garbage."""
    idx = str(tmp_path / "pruned_ingest")
    rows = spark.createDataFrame(
        [(i, i % 4) for i in range(40)], schema="vec_id long, cell int"
    )
    life.build_index(spark, idx, "_n_centroids", 4, rows, "cell", 4)

    # the physical pruned scan lists only the requested part dirs
    scan = life.physical_pruned_scan(spark, idx, "cell", [1, 3])
    files = scan.inputFiles()
    assert files and all("cell=1" in f or "cell=3" in f for f in files)

    with open(f"{idx}/cell=2/part-garbage.parquet", "w") as fh:
        fh.write("this is not parquet")
    try:
        # full-index key scan would die on the garbage — prove it does
        with pytest.raises(Exception):
            spark.read.option("basePath", idx).parquet(idx).select(
                "vec_id"
            ).count()
        # batch touches cells 0 and 1 only: 2 genuinely new keys + 2
        # re-delivered duplicates (keys 0 -> cell 0, 5 -> cell 1)
        batch = spark.createDataFrame(
            [(100, 0), (101, 1), (0, 0), (5, 1)],
            schema="vec_id long, cell int",
        )
        n = life.ingest_rows(spark, idx, "_n_centroids", 4, batch, "cell", 4)
        assert n == 2  # duplicates dropped by the PRUNED anti-join
        # pruned delete with TRUSTED part values (the key→partition-map
        # contract) never reads the garbage; ghost keys record nothing.
        # The untrusted default would cross-check key 999 against the
        # full key scan (round-12 advice: a stale-part feed must not
        # silently no-op) — that full scan reading every partition is
        # exactly what the garbage file proves, via the raises above.
        dels = spark.createDataFrame(
            [(1, 1), (101, 1), (999, 1)], schema="vec_id long, cell int"
        )
        assert (
            life.delete_keys(
                spark, idx, "_n_centroids", 4, dels, part_col="cell",
                trusted_parts=True,
            )
            == 2
        )
    finally:
        os.remove(f"{idx}/cell=2/part-garbage.parquet")
    table = spark.read.option("basePath", idx).parquet(idx)
    assert table.count() == 42
    masked = life.apply_tombstones(spark, idx, table)
    assert masked.count() == 40
    assert masked.filter(F.col("vec_id").isin(1, 101)).count() == 0


def test_ingest_into_brand_new_partition_value(spark, tmp_path):
    """A batch whose partition value has no dir yet (first rows of a new
    cell) skips the anti-join entirely and appends cleanly; a replay of
    the same batch then dedups against the now-existing dir."""
    idx = str(tmp_path / "new_part")
    rows = spark.createDataFrame(
        [(i, 0) for i in range(5)], schema="vec_id long, cell int"
    )
    life.build_index(spark, idx, "_n_centroids", 2, rows, "cell", 2)
    batch = spark.createDataFrame(
        [(50, 7), (51, 7)], schema="vec_id long, cell int"
    )
    assert life.ingest_rows(spark, idx, "_n_centroids", 2, batch, "cell", 2) == 2
    assert life.ingest_rows(spark, idx, "_n_centroids", 2, batch, "cell", 2) == 0
    assert (
        spark.read.option("basePath", idx).parquet(idx).count() == 7
    )


def test_tombstone_stats_and_overdue_warning(spark, tmp_path):
    """Round-12 ask #6: index_file_stats reports pending tombstone count
    and bytes, and apply_tombstones warns when the bytes cross the
    conf'd broadcast-strain threshold — the 'compact overdue' signal."""
    import warnings

    idx = str(tmp_path / "tomb_stats")
    rows = spark.createDataFrame(
        [(i, i % 2) for i in range(20)], schema="vec_id long, cell int"
    )
    life.build_index(spark, idx, "_n_centroids", 2, rows, "cell", 2)
    stats = life.index_file_stats(spark, idx, "cell").collect()
    assert all(r["n_tombstones"] == 0 and r["tombstone_bytes"] == 0 for r in stats)
    doomed = spark.createDataFrame([(2,), (4,)], schema="vec_id long")
    assert life.delete_keys(spark, idx, "_n_centroids", 2, doomed) == 2
    stats = life.index_file_stats(spark, idx, "cell").collect()
    assert all(r["n_tombstones"] == 2 for r in stats)
    assert all(r["tombstone_bytes"] > 0 for r in stats)
    # under the default threshold: no warning on a masked read
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert life.pruned_scan(spark, idx, "cell", [0]).count() > 0
    # drop the threshold below the pending bytes: every probe warns
    spark.conf.set(life.TOMBSTONE_WARN_BYTES_CONF, "1")
    try:
        with pytest.warns(RuntimeWarning, match="compaction .* overdue"):
            life.pruned_scan(spark, idx, "cell", [0]).count()
    finally:
        spark.conf.unset(life.TOMBSTONE_WARN_BYTES_CONF)
    # compaction clears the signal
    life.compact_index(spark, idx, "_n_centroids", "cell", 2)
    stats = life.index_file_stats(spark, idx, "cell").collect()
    assert all(r["n_tombstones"] == 0 and r["tombstone_bytes"] == 0 for r in stats)


# ---------------------------------------------------------------------------
# durable IVF-PQ composite index (round-12 ask #2)
# ---------------------------------------------------------------------------


def test_ivfpq_conf_matches_scratch_and_prunes(
    spark, tmp_path, partitions_read, top_cells
):
    """The conf'd standing IVF-PQ index returns exactly the scratch-path
    results, stores NO float vectors (codes only), and its probe reads
    only the probed cells."""
    base = _rows(spark, "sim_ivfpq_probe")
    idx = str(tmp_path / "ivfpq")
    spark.conf.set(sim.IVFPQ_INDEX_DIR_CONF, idx)
    try:
        assert _rows(spark, "sim_ivfpq_probe") == base and base
        table = spark.read.option("basePath", idx).parquet(idx)
        assert sorted(table.columns) == ["cell", "codes", "label", "vec_id"]
        # frozen artifacts exist
        assert read_int_marker(spark, f"{idx}/{sim._IVFPQ_MARKER}") == sim.N_CENTROIDS
        assert len(sim.read_codebook(spark, idx)) == sim.N_CENTROIDS
        assert len(sim.read_pq_codebook(spark, idx)) == sim.PQ_M * sim.PQ_K
        # second run probes the standing index without a rebuild
        before = _mtimes(idx)
        assert _rows(spark, "sim_ivfpq_probe") == base
        assert _mtimes(idx) == before
        # and its codes scan reads only the probed cells at run time
        _assert_reads_probed_cells(
            spark, idx, "sim_ivfpq_probe", sim.N_QUERIES, sim.N_PROBES,
            partitions_read, top_cells,
        )
    finally:
        spark.conf.unset(sim.IVFPQ_INDEX_DIR_CONF)


def test_ivfpq_ingest_stream_delete_compact_lifecycle(spark, tmp_path):
    """All four maintenance verbs against the composite index: streamed
    ingest is exactly-once, ingested codes equal a fresh encode, deletes
    mask immediately, compaction applies them and keeps probe results."""
    idx = str(tmp_path / "ivfpq_life")
    sim.ivfpq_build_or_open(spark, SF, idx)
    total = spark.read.option("basePath", idx).parquet(idx).count()
    # pre-ingest probe baseline: the ingested vectors are EMBEDDING
    # COPIES of the first corpus rows, so they WILL enter the top-k
    # while live — delete+compact must restore exactly this result
    probe_baseline = sorted(
        tuple(r) for r in sim._ivfpq_topk(spark, SF, idx).collect()
    )
    # streamed ingest of brand-new vectors (shifted ids, real embeddings)
    emb = registry.tbl(spark, SF, "embeddings").select(
        (F.col("vec_id") + 3_000_000).alias("vec_id"), "embedding"
    ).limit(24)
    emb.repartition(2).write.parquet(str(tmp_path / "feed"))
    stream = lambda: (  # noqa: E731
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )
    sim.ivfpq_index_stream(stream(), idx, str(tmp_path / "ck1")).awaitTermination()
    table = spark.read.option("basePath", idx).parquet(idx)
    assert table.count() == total + 24
    # replay through a fresh checkpoint: nothing appended
    sim.ivfpq_index_stream(stream(), idx, str(tmp_path / "ck2")).awaitTermination()
    assert spark.read.option("basePath", idx).parquet(idx).count() == total + 24
    # ingested rows carry the same (cell, codes) a fresh frozen-quantizer
    # encode of the same vectors produces
    cent_rows = sim.read_codebook(spark, idx)
    pq_rows = sim.read_pq_codebook(spark, idx)
    expect = (
        emb.withColumn("e", F.expr(sim.as_double("embedding")))
        .select(
            "vec_id",
            F.expr(sim._argmax_cell(cent_rows)).cast("int").alias("cell"),
            F.expr(sim._pq_codes(pq_rows)).alias("codes"),
        )
    )
    got = spark.read.option("basePath", idx).parquet(idx).filter(
        F.col("vec_id") >= 3_000_000
    ).select("vec_id", "cell", "codes")
    assert sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in got.collect()
    ) == sorted(
        (r["vec_id"], r["cell"], tuple(r["codes"])) for r in expect.collect()
    )
    # while live, the ingested copies displace baseline neighbors
    probe_live = sorted(
        tuple(r) for r in sim._ivfpq_topk(spark, SF, idx).collect()
    )
    assert probe_live != probe_baseline
    assert any(r[1] >= 3_000_000 for r in probe_live)
    # delete + masked probe + compact
    doomed = spark.range(3_000_000, 3_000_024).select(F.col("id").alias("vec_id"))
    assert sim.ivfpq_index_delete(spark, doomed, idx) == 24
    masked = life.apply_tombstones(
        spark, idx, spark.read.option("basePath", idx).parquet(idx)
    )
    assert masked.filter(F.col("vec_id") >= 3_000_000).count() == 0
    assert sim.ivfpq_index_compact(spark, idx) == total
    assert life.tombstones(spark, idx) is None
    physical = spark.read.option("basePath", idx).parquet(idx)
    assert physical.count() == total
    stats = life.index_file_stats(spark, idx, "cell").collect()
    assert all(r["n_files"] == 1 for r in stats)
    probe_after = sorted(tuple(r) for r in sim._ivfpq_topk(spark, SF, idx).collect())
    assert probe_after == probe_baseline  # tombstones behave like never-existed


def test_hybrid_rrf_indexed_reads_only_index_paths(
    spark, tmp_path, partitions_read
):
    """Round-12 ask #3: the indexed hybrid retrieval's probe plan reads
    ONLY the two standing indexes — zero corpus/documents/embeddings
    access at query time — and matches the conf'd/scratch paths."""
    from bert_etl_spark.operators import text as tx

    base = _rows(spark, "sim_hybrid_rrf_indexed")  # scratch path
    ivf = str(tmp_path / "ivf")
    tix = str(tmp_path / "tix")
    spark.conf.set(sim.IVF_INDEX_DIR_CONF, ivf)
    spark.conf.set(tx.TEXTIDX_DIR_CONF, tix)
    try:
        df = registry.ALL_QUERIES["sim_hybrid_rrf_indexed"](spark, SF)
        rows = sorted(tuple(r) for r in df.collect())
        assert rows == base and rows
        files = df.inputFiles()
        assert files
        assert all(f"{ivf}/" in f or f"{tix}/" in f for f in files), files
        assert not any(
            "embeddings.parquet" in f or "documents.parquet" in f
            for f in files
        )
        # the candidate sides are pruned: only cell=/bucket= data dirs
        # (plus the frozen stats artifact) appear
        for f in files:
            assert (
                "/cell=" in f or "/bucket=" in f or "/_collection_stats/" in f
            ), f
        # and at run time each leg's scan reads only its probed partitions
        assert partitions_read(df, ivf) == [sim.N_PROBES]
        lex_reads = partitions_read(df, tix)
        assert lex_reads and max(lex_reads) <= len(tx.BM25_TERMS)
    finally:
        spark.conf.unset(sim.IVF_INDEX_DIR_CONF)
        spark.conf.unset(tx.TEXTIDX_DIR_CONF)


# ---------------------------------------------------------------------------
# durable co-purchase edge table (round-12 ask #4)
# ---------------------------------------------------------------------------


def test_graph_edges_at_rest_parity_and_no_build_stage(spark, tmp_path):
    """With spark.bert_etl.graph.edgeTableDir set, the graph family reads
    the standing edge table: identical results for PageRank and connected
    components, and the warm edge plan has NO build stage (no self-join,
    no aggregation, no lineitem scan — a pure FileScan of the edge dir)."""
    from bert_etl_spark.operators import advanced as adv

    pr_base = _rows(spark, "graph_pagerank_iter")
    cc_base = _rows(spark, "graph_connected_components")
    edir = str(tmp_path / "edges")
    spark.conf.set(adv.GRAPH_EDGE_DIR_CONF, edir)
    try:
        # the conf'd path must not reuse the session checkpoint memo
        registry.release_internals()
        assert _rows(spark, "graph_pagerank_iter") == pr_base and pr_base
        assert _rows(spark, "graph_connected_components") == cc_base and cc_base
        # warm path: open, no rebuild (mtimes frozen), no build stage.
        # The session memo serves blocks after first touch; the plan that
        # EXECUTES at first touch is the raw at-rest scan — pin that.
        before = _mtimes(edir)
        raw = adv._edges_at_rest_plan(spark, edir)
        plan = raw._jdf.queryExecution().executedPlan().toString()
        assert "lineitem" not in plan
        assert "SortMergeJoin" not in plan  # the O(E) self-join is gone
        assert "HashAggregate" not in plan  # so is the support count
        files = raw.inputFiles()
        assert files and all(f"{edir}/" in f for f in files)
        assert adv.copurchase_edges(spark, SF).count() > 0
        assert _mtimes(edir) == before
    finally:
        spark.conf.unset(adv.GRAPH_EDGE_DIR_CONF)
        registry.release_internals()


def test_graph_edges_ingest_delete_compact(spark, tmp_path):
    """The edge table's maintenance verbs through the shared lifecycle:
    idempotent ingest, tombstone delete masking every read, compaction
    applying them physically."""
    from bert_etl_spark.operators import advanced as adv

    edir = str(tmp_path / "edges_life")
    adv.graph_edges_build_or_open(spark, SF, edir)
    table = spark.read.option("basePath", edir).parquet(edir)
    total = table.count()
    batch = spark.createDataFrame(
        [(900001, 900002), (900001, 900003)], schema="u long, v long"
    )
    assert adv.graph_edges_ingest(spark, batch, edir) == 2
    assert adv.graph_edges_ingest(spark, batch, edir) == 0  # replay no-op
    doomed = spark.createDataFrame(
        [("900001|900002",)], schema="pkey string"
    )
    assert adv.graph_edges_delete(spark, doomed, edir) == 1
    spark.conf.set(adv.GRAPH_EDGE_DIR_CONF, edir)
    try:
        registry.release_internals()
        edges = adv.copurchase_edges(spark, SF)
        assert edges.filter(
            (F.col("u") == 900001) & (F.col("v") == 900002)
        ).count() == 0
        assert edges.filter(
            (F.col("u") == 900001) & (F.col("v") == 900003)
        ).count() == 1
    finally:
        spark.conf.unset(adv.GRAPH_EDGE_DIR_CONF)
        registry.release_internals()
    assert adv.graph_edges_compact(spark, edir) == total + 1
    assert life.tombstones(spark, edir) is None
    stats = life.index_file_stats(spark, edir, "ebkt").collect()
    assert all(r["n_files"] == 1 for r in stats)


def test_stream_ingest_inpath_compaction(spark, tmp_path):
    """compact_every=N: the always-on ingest maintains its own index —
    after draining a multi-epoch feed with in-path compaction, the table
    is compacted (one file per touched cell), rows are exactly-once, and
    a replay through a fresh checkpoint changes nothing."""
    idx = str(tmp_path / "ivf_inpath")
    sim._ivf_assign(spark, SF, idx)
    sim.ivf_index_compact(spark, idx)  # settle the build to 1 file/cell
    emb = registry.tbl(spark, SF, "embeddings").select(
        (F.col("vec_id") + 4_000_000).alias("vec_id"), "embedding"
    ).limit(24)
    emb.repartition(4).write.parquet(str(tmp_path / "feed"))
    total = spark.read.option("basePath", idx).parquet(idx).count()
    stream = lambda: (  # noqa: E731
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "feed"))
    )
    sim.ivf_index_stream(
        stream(), idx, str(tmp_path / "ck1"), compact_every=2
    ).awaitTermination()
    table = spark.read.option("basePath", idx).parquet(idx)
    assert table.count() == total + 24
    stats = life.index_file_stats(spark, idx, "cell").collect()
    # 4 epochs, compaction on epochs 2 and 4 — the last epoch ended with
    # a compact, so the steady state is 1 file per cell
    assert all(r["n_files"] == 1 for r in stats)
    # replay with fresh checkpoint: idempotent, still compacted
    sim.ivf_index_stream(
        stream(), idx, str(tmp_path / "ck2"), compact_every=2
    ).awaitTermination()
    assert spark.read.option("basePath", idx).parquet(idx).count() == total + 24
    after = life.index_file_stats(spark, idx, "cell").collect()
    assert all(r["n_files"] == 1 for r in after)


def test_ivfpq_filtered_composes_partition_and_pushed_filters(spark, tmp_path):
    """Filtered ANN on the COMPRESSED index: the probed-cell pruning
    (PartitionFilters) and the label payload predicate (PushedFilters)
    both reach the same codes-only scan, and conf'd results equal the
    scratch path's."""
    base = _rows(spark, "sim_ivfpq_filtered")  # scratch path
    idx = str(tmp_path / "ivfpq_filtered_idx")
    spark.conf.set(sim.IVFPQ_INDEX_DIR_CONF, idx)
    try:
        assert _rows(spark, "sim_ivfpq_filtered") == base and base
        df = registry.ALL_QUERIES["sim_ivfpq_filtered"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters:" in plan
        pf = plan.split("PartitionFilters:")[1].split("]")[0]
        assert "cell" in pf
        assert "In(label" in plan.split("PushedFilters:")[1].split("]")[0]
        # every filtered result id really carries an allowed label
        labels = {
            r["label"]
            for r in spark.read.option("basePath", idx).parquet(idx)
            .join(
                registry.ALL_QUERIES["sim_ivfpq_filtered"](spark, SF)
                .select(F.col("neighbor_id").alias("vec_id")),
                "vec_id",
            )
            .select("label")
            .collect()
        }
        assert labels <= set(sim.FILTER_LABELS)
    finally:
        spark.conf.unset(sim.IVFPQ_INDEX_DIR_CONF)


def test_hybrid_rrf_indexed_reflects_streamed_ingest(spark, tmp_path):
    """End-to-end RAG freshness: stream a new document into the standing
    posting index AND its (identical-to-query) vector into the standing
    IVF index; the next fused probe must surface it — no rebuild, no
    corpus access, just the two ingest verbs doing their job."""
    from bert_etl_spark.operators import text as tx

    ivf = str(tmp_path / "ivf")
    tix = str(tmp_path / "tix")
    spark.conf.set(sim.IVF_INDEX_DIR_CONF, ivf)
    spark.conf.set(tx.TEXTIDX_DIR_CONF, tix)
    try:
        base = _rows(spark, "sim_hybrid_rrf_indexed")  # builds both
        new_id = 777_777
        assert not any(r[0] == new_id for r in base)
        # the vector: an exact copy of query vector 0 -> cosine 1.0,
        # dense rank 1 by construction; the text: saturated in all three
        # BM25 query terms -> top lexical ranks
        q0 = (
            registry.tbl(spark, SF, "embeddings")
            .filter(F.col("vec_id") == 0)
            .select("embedding")
            .collect()[0]["embedding"]
        )
        vec_feed = spark.createDataFrame(
            [(new_id, q0)], schema="vec_id long, embedding array<float>"
        )
        vec_feed.write.parquet(str(tmp_path / "vfeed"))
        sim.ivf_index_stream(
            spark.readStream.schema("vec_id long, embedding array<float>")
            .parquet(str(tmp_path / "vfeed")),
            ivf,
            str(tmp_path / "vck"),
        ).awaitTermination()
        doc_feed = spark.createDataFrame(
            [(new_id, "dup vector spark " * 20)],
            schema="doc_id long, text string",
        )
        doc_feed.write.parquet(str(tmp_path / "dfeed"))
        tx.textidx_stream(
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(tmp_path / "dfeed")),
            tix,
            str(tmp_path / "dck"),
        ).awaitTermination()
        after = _rows(spark, "sim_hybrid_rrf_indexed")
        hit = [r for r in after if r[0] == new_id]
        assert hit, f"streamed doc {new_id} missing from fused top-k: {after}"
        assert hit[0][1] == 1  # dense rank 1: the identical vector won
    finally:
        spark.conf.unset(sim.IVF_INDEX_DIR_CONF)
        spark.conf.unset(tx.TEXTIDX_DIR_CONF)


# ---------------------------------------------------------------------------
# round-13 advice closures + tombstone-triggered in-path compaction
# ---------------------------------------------------------------------------


def test_ivfpq_ingest_recovers_interrupted_compaction(spark, tmp_path):
    """Round-12 'medium' advice: a crash inside the compaction sentinel
    window (tmp written, _compact_pending stamped, marker deleted) must
    not strand ivfpq_index_stream — the replayed epoch's ingest verb
    finishes the swap via open_index instead of raising 'no standing
    IVF-PQ index'."""
    idx = str(tmp_path / "ivfpq_crash")
    sim.ivfpq_build_or_open(spark, SF, idx)
    total = spark.read.option("basePath", idx).parquet(idx).count()
    # simulate compact_index crashing right after its commit point
    table = spark.read.option("basePath", idx).parquet(idx)
    tmp = f"{idx}{life.TMP_SUFFIX}"
    table.repartition(4, "cell").write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(tmp)
    write_int_marker(spark, f"{idx}/{life.PENDING_SENTINEL}", sim.N_CENTROIDS)
    os.remove(f"{idx}/{sim._IVFPQ_MARKER}")
    # CRASH here; the stream restarts and the replayed epoch re-ingests
    emb = registry.tbl(spark, SF, "embeddings").select(
        (F.col("vec_id") + 6_000_000).alias("vec_id"), "embedding"
    ).limit(8)
    assert sim.ivfpq_index_ingest(spark, emb, idx) == 8
    assert read_int_marker(spark, f"{idx}/{sim._IVFPQ_MARKER}") == sim.N_CENTROIDS
    assert not os.path.exists(tmp)
    assert not os.path.exists(f"{idx}/{life.PENDING_SENTINEL}")
    assert (
        spark.read.option("basePath", idx).parquet(idx).count() == total + 8
    )


def test_textidx_ingest_recovers_interrupted_compaction(spark, tmp_path):
    """The same recovery gap for the text index's ingest verb (round-12
    advice named both)."""
    from bert_etl_spark.operators import text as tx

    idx = str(tmp_path / "tix_crash")
    tx._textidx_open_or_build(spark, SF, idx)
    total = spark.read.option("basePath", idx).parquet(idx).count()
    table = spark.read.option("basePath", idx).parquet(idx)
    tmp = f"{idx}{life.TMP_SUFFIX}"
    table.repartition(4, "bucket").write.partitionBy("bucket").mode(
        "overwrite"
    ).parquet(tmp)
    write_int_marker(
        spark, f"{idx}/{life.PENDING_SENTINEL}", tx.TEXTIDX_BUCKETS
    )
    os.remove(f"{idx}/{tx._TEXTIDX_MARKER}")
    docs = spark.createDataFrame(
        [(9_000_001, "wholly novel recovery document")],
        schema="doc_id long, text string",
    )
    assert tx.textidx_ingest(spark, docs, idx) > 0
    assert (
        read_int_marker(spark, f"{idx}/{tx._TEXTIDX_MARKER}")
        == tx.TEXTIDX_BUCKETS
    )
    assert not os.path.exists(tmp)
    assert not os.path.exists(f"{idx}/{life.PENDING_SENTINEL}")
    assert spark.read.option("basePath", idx).parquet(idx).count() > total


def test_delete_with_stale_part_values_still_deletes(spark, tmp_path):
    """Round-12 'low' advice: a delete feed whose cell column is STALE
    (computed against a drifted quantizer) must not silently record zero
    tombstones — the cross-check falls back to the slim full key scan
    for keys not found where they claimed to live."""
    idx = str(tmp_path / "ivf_stale_delete")
    sim._ivf_assign(spark, SF, idx)
    # four real rows, each claiming the WRONG cell
    sample = (
        spark.read.option("basePath", idx).parquet(idx)
        .select("vec_id", "cell").limit(4).collect()
    )
    stale = spark.createDataFrame(
        [(r["vec_id"], (r["cell"] + 1) % sim.N_CENTROIDS) for r in sample],
        schema="vec_id long, cell int",
    )
    # trusted_parts=True documents the hazard the cross-check closes:
    # the pruned check looks in the claimed (wrong) partitions, finds
    # nothing, and records zero tombstones
    assert (
        life.delete_keys(
            spark, idx, sim._IVF_MARKER, sim.N_CENTROIDS, stale,
            part_col="cell", trusted_parts=True,
        )
        == 0
    )
    # the public verb (untrusted feed) cross-checks and deletes all four
    assert sim.ivf_index_delete(spark, stale, idx) == 4
    masked = life.apply_tombstones(
        spark, idx, spark.read.option("basePath", idx).parquet(idx)
    )
    doomed_ids = {r["vec_id"] for r in sample}
    assert masked.filter(F.col("vec_id").isin(doomed_ids)).count() == 0
    # replay of the same feed records nothing new (idempotence kept)
    assert sim.ivf_index_delete(spark, stale, idx) == 0


def test_compaction_due_thresholds(spark, tmp_path):
    """compaction_due: the epoch cadence fires on every Nth epoch; the
    tombstone-bytes trigger fires only once pending bytes exceed the
    threshold (round-12 'next round' item #7)."""
    idx = str(tmp_path / "ivf_due")
    sim._ivf_assign(spark, SF, idx)
    # cadence-only behavior unchanged
    assert life.compaction_due(spark, idx, 1, compact_every=2)
    assert not life.compaction_due(spark, idx, 2, compact_every=2)
    # no tombstones -> never due on the bytes trigger
    assert life.pending_tombstone_bytes(spark, idx) == 0
    assert not life.compaction_due(spark, idx, 0, tombstone_bytes_over=1)
    # plant one tombstone -> due above 1 byte, not above 1 GiB
    one = spark.read.option("basePath", idx).parquet(idx).select(
        "vec_id"
    ).limit(1)
    assert sim.ivf_index_delete(spark, one, idx) == 1
    assert life.pending_tombstone_bytes(spark, idx) > 0
    assert life.compaction_due(spark, idx, 0, tombstone_bytes_over=1)
    assert not life.compaction_due(
        spark, idx, 0, tombstone_bytes_over=1 << 30
    )


def _mk_ivf_idx(spark, tmp_path, name):
    idx = str(tmp_path / name)
    sim._ivf_assign(spark, SF, idx)
    return idx


def test_ivf_upsert_replaces_inserts_resurrects(spark, tmp_path):
    """upsert_rows end to end through the IVF wrapper: an existing key's
    row is REPLACED in place (one physical row, new payload), a fresh
    key inserts, a tombstoned key resurrects atomically (its tombstone
    gone), an un-upserted tombstoned key stays dead, and counts are
    conserved."""
    idx = _mk_ivf_idx(spark, tmp_path, "ivf_ups")
    emb = registry.tbl(spark, SF, "embeddings")
    total = emb.count()
    dead = spark.createDataFrame([(40,), (50,)], "vec_id long")
    assert sim.ivf_index_delete(spark, dead, idx) == 2
    upd = emb.filter(F.col("vec_id") == 100).select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: (x.cast("double") + F.lit(9.5)).cast("float")
        ).alias("embedding"),
    )
    ins = emb.filter(F.col("vec_id") == 100).select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"), "label", "embedding"
    )
    res = emb.filter(F.col("vec_id") == 50).select(
        "vec_id", "label", "embedding"
    )
    nr, ni = sim.ivf_index_upsert(
        spark, upd.unionByName(ins).unionByName(res), idx
    )
    assert (nr, ni) == (2, 1)  # 100 replaced, 50 replaced-in-place, new inserted
    phys = spark.read.option("basePath", idx).parquet(idx)
    live = life.apply_tombstones(spark, idx, phys, "vec_id")
    # counts: total - dead(40) + insert; 50 resurrected, 100 replaced
    assert live.count() == total - 1 + 1
    assert phys.filter(F.col("vec_id") == 100).count() == 1  # replaced, not duplicated
    got = phys.filter(F.col("vec_id") == 100).select("e").first()["e"]
    want = [
        float(x) + 9.5
        for x in emb.filter(F.col("vec_id") == 100).first()["embedding"]
    ]
    assert got == pytest.approx(want)
    assert live.filter(F.col("vec_id") == 50).count() == 1  # resurrected
    assert live.filter(F.col("vec_id") == 40).count() == 0  # stays dead
    ts = life.tombstones(spark, idx)
    assert ts is not None and {r.vec_id for r in ts.collect()} == {40}
    # idempotent re-run: same batch converges to the same state
    nr2, ni2 = sim.ivf_index_upsert(
        spark, upd.unionByName(ins).unionByName(res), idx
    )
    assert (nr2, ni2) == (3, 0)  # all three now standing
    live2 = life.apply_tombstones(
        spark,
        idx,
        spark.read.option("basePath", idx).parquet(idx),
        "vec_id",
    )
    assert live2.count() == total
    # refusals + empty batch
    with pytest.raises(ValueError, match="no standing"):
        sim.ivf_index_upsert(spark, upd, str(tmp_path / "nowhere"))
    assert sim.ivf_index_upsert(spark, upd.limit(0), idx) == (0, 0)


def test_ivf_upsert_moves_key_and_drains_cell(spark, tmp_path):
    """An upsert whose new embedding assigns to a DIFFERENT cell moves
    the key: the old cell's rows shrink (or drain to an empty swapped
    dir), the new cell gains the row, and no duplicate of the key
    survives anywhere — the partial-swap's empty-dir staging rule."""
    idx = _mk_ivf_idx(spark, tmp_path, "ivf_move")
    phys = spark.read.option("basePath", idx).parquet(idx)
    cells = [
        (r["cell"], r["n"])
        for r in phys.groupBy("cell").agg(F.count("*").alias("n")).collect()
    ]
    src_cell, src_n = min(cells, key=lambda c: c[1])
    dst_cell = max(cells, key=lambda c: c[1])[0]
    # centroid vector of dst wins its own argmax for this corpus
    cb = {int(r.cid): [float(x) for x in r.ce] for r in sim.read_codebook(spark, idx)}
    victims = [
        r["vec_id"]
        for r in phys.filter(F.col("cell") == src_cell)
        .select("vec_id")
        .collect()
    ]
    batch = spark.createDataFrame(
        [(int(v), [float(x) for x in cb[dst_cell]]) for v in victims],
        "vec_id long, embedding array<double>",
    )
    total = phys.count()
    nr, ni = sim.ivf_index_upsert(spark, batch, idx)
    assert (nr, ni) == (len(victims), 0)
    after = spark.read.option("basePath", idx).parquet(idx)
    assert after.count() == total
    moved = after.join(batch.select("vec_id"), "vec_id", "left_semi")
    assert moved.count() == len(victims)
    new_cells = {r["cell"] for r in moved.select("cell").distinct().collect()}
    assert src_cell not in new_cells
    assert after.filter(F.col("cell") == src_cell).count() == 0
    assert after.dropDuplicates(["vec_id"]).count() == total  # no dup keys


def test_ivf_upsert_crash_mid_swap_recovers(spark, tmp_path, monkeypatch):
    """Crash inside the sentinel window (tmp complete including the
    filtered tombstone artifact, sentinel stamped, marker deleted):
    open_index finishes the swap and the table equals a completed
    upsert's — rows AND resurrection commit together."""
    emb = registry.tbl(spark, SF, "embeddings")
    upd = emb.filter(F.col("vec_id") == 100).select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: (x.cast("double") + F.lit(3.25)).cast("float")
        ).alias("embedding"),
    )
    res = emb.filter(F.col("vec_id") == 50).select("vec_id", "label", "embedding")
    batch = upd.unionByName(res)

    def scenario(name, crash):
        idx = _mk_ivf_idx(spark, tmp_path, name)
        sim.ivf_index_delete(
            spark, spark.createDataFrame([(50,)], "vec_id long"), idx
        )
        if crash:
            def boom(*a, **kw):
                raise RuntimeError("simulated crash mid-swap")

            monkeypatch.setattr(life, "finish_compaction_swap", boom)
            with pytest.raises(RuntimeError, match="simulated crash"):
                sim.ivf_index_upsert(spark, batch, idx)
            monkeypatch.undo()
            assert read_int_marker(spark, f"{idx}/{life.PENDING_SENTINEL}") is not None
            assert read_int_marker(spark, f"{idx}/{sim._IVF_MARKER}") is None
            assert (
                life.open_index(spark, idx, sim._IVF_MARKER, "cell")
                == sim.N_CENTROIDS
            )
        else:
            sim.ivf_index_upsert(spark, batch, idx)
        live = life.apply_tombstones(
            spark,
            idx,
            spark.read.option("basePath", idx).parquet(idx),
            "vec_id",
        )
        return sorted(
            (r.vec_id, r.cell, tuple(r.e))
            for r in live.select("vec_id", "cell", "e").collect()
        )

    want = scenario("ups_done", crash=False)
    got = scenario("ups_crash", crash=True)
    assert got == want
    assert not os.path.exists(f"{tmp_path}/ups_crash{life.TMP_SUFFIX}")


def test_upsert_wrappers_maxsim_and_simlsh(spark, tmp_path):
    """Verb parity: the MaxSim and sign-LSH upsert twins replace a
    standing row in place (new payload, correct new partition under
    each family's own frozen layout — including a MIGRATED sign-LSH
    plane count) and insert fresh keys; no duplicate keys survive."""
    emb = registry.tbl(spark, SF, "embeddings")
    shift = F.transform(
        "embedding", lambda x: (x.cast("double") + F.lit(2.5)).cast("float")
    )
    batch = emb.filter(F.col("vec_id") == 64).select(
        "vec_id", shift.alias("embedding")
    ).unionByName(
        emb.filter(F.col("vec_id") == 64).select(
            (F.col("vec_id") + 6_000_000).alias("vec_id"),
            shift.alias("embedding"),
        )
    )
    # MaxSim
    midx = str(tmp_path / "ms_ups")
    spark.conf.set(sim.MAXSIM_INDEX_DIR_CONF, midx)
    try:
        sim._maxsim_assign(spark, SF)
    finally:
        spark.conf.unset(sim.MAXSIM_INDEX_DIR_CONF)
    total = spark.read.option("basePath", midx).parquet(midx).count()
    assert sim.maxsim_index_upsert(spark, batch, midx) == (1, 1)
    after = spark.read.option("basePath", midx).parquet(midx)
    assert after.count() == total + 1
    assert after.filter(F.col("vec_id") == 64).count() == 1
    cb = sim.read_codebook(spark, midx)
    got = after.filter(F.col("vec_id") == 64).first()
    want_cell = (
        spark.createDataFrame([(got["e"],)], "e array<double>")
        .select(F.expr(sim._argmax_cell(cb)).cast("int").alias("c"))
        .first()["c"]
    )
    assert got["cell"] == want_cell  # re-assigned under the frozen quantizer
    # sign-LSH, on a MIGRATED (6-plane) index: upsert hashes at the
    # index's stamped count, not the module constant
    lidx = _mk_simlsh_idx(spark, tmp_path, "lsh_ups")
    sim.simlsh_index_rebuild(spark, lidx, 6)
    ltotal = spark.read.option("basePath", lidx).parquet(lidx).count()
    assert sim.simlsh_index_upsert(spark, batch, lidx) == (1, 1)
    lafter = spark.read.option("basePath", lidx).parquet(lidx)
    assert lafter.count() == ltotal + 1
    row = lafter.filter(F.col("vec_id") == 64)
    assert row.count() == 1
    assert (
        row.select(
            (F.col("bucket")
             == F.expr(sim.sign_bucket("e", sim.planes_for(6))).cast("int"))
            .alias("ok")
        ).first()["ok"]
    )


def test_saturation_due_mean_partition_bytes(spark, tmp_path):
    """saturation_due — the capacity-migration trigger: fires once the
    MEAN data bytes per partition dir exceed the bound, from a pure
    driver-side FS listing; disabled at <=0; False on an empty dir;
    marker/underscore files excluded from the byte count."""
    idx = str(tmp_path / "ivf_sat")
    # nothing there yet -> never due
    assert not life.saturation_due(spark, idx, "cell", 1)
    sim._ivf_assign(spark, SF, idx)
    sizes = life.partition_saturation(spark, idx, "cell")
    assert sizes and all(b > 0 for b in sizes.values())
    mean = sum(sizes.values()) / len(sizes)
    assert life.saturation_due(spark, idx, "cell", int(mean // 2))
    assert not life.saturation_due(spark, idx, "cell", int(mean * 2))
    assert not life.saturation_due(spark, idx, "cell", 0)  # disabled
    # underscore artifacts don't count: plant a big marker-like file
    with open(f"{idx}/cell=0/_garbage", "w") as fh:
        fh.write("x" * 1_000_000)
    assert life.partition_saturation(spark, idx, "cell") == sizes


def test_stream_compacts_when_tombstones_over_threshold(spark, tmp_path):
    """The *_stream wrappers' compact_when_tombstones_over=B: below the
    threshold the drain leaves pending tombstones untouched; above it,
    exactly the overdue compaction runs and clears them."""
    idx = str(tmp_path / "ivf_tomb_stream")
    sim._ivf_assign(spark, SF, idx)
    one = spark.read.option("basePath", idx).parquet(idx).select(
        "vec_id"
    ).limit(1)
    assert sim.ivf_index_delete(spark, one, idx) == 1
    emb = registry.tbl(spark, SF, "embeddings").select(
        (F.col("vec_id") + 8_000_000).alias("vec_id"), "embedding"
    ).limit(4)
    emb.write.parquet(str(tmp_path / "feed"))
    stream = lambda: (  # noqa: E731
        spark.readStream.schema("vec_id long, embedding array<float>")
        .parquet(str(tmp_path / "feed"))
    )
    # below threshold: tombstone survives the drain
    sim.ivf_index_stream(
        stream(), idx, str(tmp_path / "ck1"),
        compact_when_tombstones_over=1 << 30,
    ).awaitTermination()
    assert life.pending_tombstone_bytes(spark, idx) > 0
    # above threshold: the drain compacts and clears it
    sim.ivf_index_stream(
        stream(), idx, str(tmp_path / "ck2"),
        compact_when_tombstones_over=1,
    ).awaitTermination()
    assert life.pending_tombstone_bytes(spark, idx) == 0
    assert life.tombstones(spark, idx) is None


def test_indexed_phrase_search_reads_only_term_buckets(
    spark, tmp_path, partitions_read
):
    """Round-12 ask #2: the indexed phrase/proximity probes read ONLY the
    phrase terms' bucket dirs of the standing positional index — zero
    corpus access — match the corpus-scan forms exactly, and the
    lifecycle verbs (ingest/delete/compact) preserve positions."""
    from bert_etl_spark.operators import text as tx

    scan_rows = _rows(spark, "text_phrase_search")
    prox_rows = _rows(spark, "text_proximity_search")
    tix = str(tmp_path / "tix_pos")
    spark.conf.set(tx.TEXTIDX_DIR_CONF, tix)
    try:
        df = registry.ALL_QUERIES["text_phrase_search_indexed"](spark, SF)
        assert sorted(tuple(r) for r in df.collect()) == scan_rows
        files = df.inputFiles()
        assert files and all(f"{tix}/" in f for f in files)
        assert not any("documents.parquet" in f for f in files)
        _assert_reads_term_buckets(
            spark,
            tix,
            registry.ALL_QUERIES["text_phrase_search_indexed"](spark, SF),
            tx.PHRASE_TERMS,
            partitions_read,
        )
        assert (
            sorted(
                tuple(r)
                for r in registry.ALL_QUERIES[
                    "text_proximity_search_indexed"
                ](spark, SF).collect()
            )
            == prox_rows
        )
        # n-term generality: the 3-term phrase reads <= 3 bucket dirs,
        # still zero corpus access
        df3 = registry.ALL_QUERIES["text_phrase3_search_indexed"](spark, SF)
        f3 = df3.inputFiles()
        assert f3 and all(f"{tix}/" in f for f in f3)
        _assert_reads_term_buckets(
            spark, tix, df3, tx.PHRASE3_TERMS, partitions_read
        )
        # ingest a phrase-bearing doc: the indexed probe surfaces it with
        # the right occurrence count (positions flowed through ingest)
        new_id = 8_800_001
        doc = spark.createDataFrame(
            [(new_id, "table hash padding table hash")],
            schema="doc_id long, text string",
        )
        assert tx.textidx_ingest(spark, doc, tix) > 0
        hits = {
            r["doc_id"]: r["n_occurrences"]
            for r in registry.ALL_QUERIES["text_phrase_search_indexed"](
                spark, SF
            ).collect()
        }
        assert hits[new_id] == 2
        # delete masks immediately; compact applies physically and keeps
        # every other doc's positions intact
        assert tx.textidx_delete(
            spark, spark.createDataFrame([(new_id,)], schema="doc_id long"),
            tix,
        ) == 1
        after_delete = _rows(spark, "text_phrase_search_indexed")
        assert after_delete == scan_rows
        tx.textidx_compact(spark, tix)
        assert _rows(spark, "text_phrase_search_indexed") == scan_rows
        assert _rows(spark, "text_proximity_search_indexed") == prox_rows
    finally:
        spark.conf.unset(tx.TEXTIDX_DIR_CONF)


def test_mmr_batch_indexed_pool_comes_from_index(spark, tmp_path):
    """Round-12 ask #3: sim_mmr_batch_indexed's candidate pool rides the
    durable IVF-PQ probe, not a brute-force corpus scan — the warm plan
    has NO corpus×query non-equi join (the BroadcastNestedLoopJoin that
    topk_neighbors compiles to), reads the index's cell= dirs, and the
    conf'd path equals the scratch path."""
    base = _rows(spark, "sim_mmr_batch_indexed")  # scratch path
    idx = str(tmp_path / "ivfpq_mmr")
    spark.conf.set(sim.IVFPQ_INDEX_DIR_CONF, idx)
    try:
        assert _rows(spark, "sim_mmr_batch_indexed") == base and base
        df = registry.ALL_QUERIES["sim_mmr_batch_indexed"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()

        # the corpus×query candidate scan compiles to a NON-EQUI
        # BroadcastNestedLoopJoin on vec_id != q_id; the only BNLJ the
        # indexed plan may carry is _ivfpq_adc's bounded |Q|×|centroids|
        # cross join (and stats-style cross joins) — no inequality join
        def _nonequi_bnlj(p: str) -> bool:
            return any(
                "BroadcastNestedLoopJoin" in ln and "NOT (" in ln
                for ln in p.splitlines()
            )

        assert not _nonequi_bnlj(plan), plan
        files = df.inputFiles()
        cells = {f for f in files if f"{idx}/" in f and "/cell=" in f}
        assert cells, files
        # the brute-force sibling DOES carry the non-equi corpus scan —
        # the discriminator is real, not vacuous
        bf = registry.ALL_QUERIES["sim_mmr_batch"](spark, SF)
        bf_plan = bf._jdf.queryExecution().executedPlan().toString()
        assert _nonequi_bnlj(bf_plan)
    finally:
        spark.conf.unset(sim.IVFPQ_INDEX_DIR_CONF)


def test_edge_delete_derives_bucket_and_prunes(spark, tmp_path):
    """graph_edges_delete with a BARE pkey feed derives ebkt from the
    key itself (xxhash64 of the u prefix) — O(touched buckets) with no
    cross-check scan, proven by garbage in every other ebkt dir."""
    from bert_etl_spark.operators import advanced as adv

    edir = str(tmp_path / "edges_derive")
    adv.graph_edges_build_or_open(spark, SF, edir)
    victim = (
        spark.read.option("basePath", edir).parquet(edir)
        .select("pkey", "ebkt").first()
    )
    garbage = []
    for d in sorted(os.listdir(edir)):
        if d.startswith("ebkt=") and d != f"ebkt={victim['ebkt']}":
            g = f"{edir}/{d}/part-garbage.parquet"
            with open(g, "w") as fh:
                fh.write("this is not parquet")
            garbage.append(g)
    assert garbage  # the proof is vacuous with a single bucket
    try:
        doomed = spark.createDataFrame(
            [(victim["pkey"],)], schema="pkey string"
        )
        assert adv.graph_edges_delete(spark, doomed, edir) == 1
        # ghost pkey: provably absent from its one possible bucket —
        # recorded as nothing WITHOUT any full scan (trusted
        # derivation). Its u is chosen to hash into the victim's
        # (garbage-free) bucket: the delete legitimately scans the
        # ghost's own bucket, and only that one.
        ghost_u = next(
            r["u"]
            for r in spark.range(10_000_000_000, 10_000_000_200)
            .select(
                F.col("id").alias("u"),
                adv._edge_bucket("id").alias("b"),
            )
            .filter(F.col("b") == int(victim["ebkt"]))
            .limit(1)
            .collect()
        )
        ghost = spark.createDataFrame(
            [(f"{ghost_u}|987654321",)], schema="pkey string"
        )
        assert adv.graph_edges_delete(spark, ghost, edir) == 0
    finally:
        for g in garbage:
            os.remove(g)


def test_textidx_refuses_pre_positional_layout(spark, tmp_path):
    """Round-13 advice ('medium'): every text-index verb refuses a
    standing index stamped with the PRE-positional layout marker
    (``_n_buckets``) with an explicit rebuild error — appending
    positional rows would leave mixed footers whose single-footer schema
    resolution silently reads old rows as positions=NULL."""
    from bert_etl_spark.operators import text as tx

    idx = str(tmp_path / "legacy")
    os.makedirs(f"{idx}/bucket=3", exist_ok=True)
    # a legacy posting file: NO positions column
    spark.createDataFrame(
        [("the", 0, 2, 5, "the|0", 3)],
        schema="token string, doc_id long, tf long, dl int, pkey string,"
        " bucket int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{idx}/bucket=3")
    write_int_marker(spark, f"{idx}/_n_buckets", tx.TEXTIDX_BUCKETS)
    doc = spark.createDataFrame(
        [(900, "the quick fox")], schema="doc_id long, text string"
    )
    with pytest.raises(ValueError, match="pre-positional"):
        tx.textidx_ingest(spark, doc, idx)
    with pytest.raises(ValueError, match="pre-positional"):
        tx.textidx_delete(spark, doc.select("doc_id"), idx)
    with pytest.raises(ValueError, match="pre-positional"):
        tx.textidx_compact(spark, idx)
    with pytest.raises(ValueError, match="pre-positional"):
        tx._textidx_open_or_build(spark, SF, idx)


def test_edges_assign_bucket_type_stable(spark):
    """Round-13 advice ('medium'): the edge table's build-side ebkt must
    be the bigint hash of u even when the SOURCE key column is a
    narrower integer type — otherwise graph_edges_delete's derived
    (trusted) bucket misses the build rows and the delete silently
    records zero tombstones."""
    from bert_etl_spark.operators import advanced as adv

    # an INT-typed lineitem source (the hazard: xxhash64(int) !=
    # xxhash64(bigint) for the same value)
    li = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 30), (2, 10), (2, 20), (2, 30)],
        schema="l_orderkey int, l_partkey int",
    )
    rows = adv._edges_assign_plan(li).collect()
    assert rows  # co-purchase pairs exist
    expect = {
        (r["u"], r["v"]): r["b"]
        for r in spark.createDataFrame(
            [(r["u"], r["v"]) for r in rows], schema="u long, v long"
        )
        .select("u", "v", adv._edge_bucket(F.col("u").cast("bigint")).alias("b"))
        .collect()
    }
    for r in rows:
        assert r["ebkt"] == expect[(r["u"], r["v"])], (
            r, expect[(r["u"], r["v"])]
        )
    # and the schema itself is bigint — the pure-function invariant holds
    # regardless of source type
    dt = dict(adv._edges_assign_plan(li).dtypes)
    assert dt["u"] == "bigint" and dt["v"] == "bigint"


def test_textidx_refresh_stats_matches_fresh_build(spark, tmp_path):
    """textidx_compact(refresh_stats=True) after heavy ingest leaves the
    index scoring EXACTLY like a fresh full-corpus build: stats equal,
    scores equal. The negative is pinned too: without the refresh the
    frozen half-corpus stats differ — so the equality above is not
    vacuous."""
    from bert_etl_spark.operators import text as tx

    docs = registry.tbl(spark, SF, "documents")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)

    def build(idx, source):
        life.build_index(
            spark, idx, tx._TEXTIDX_MARKER, tx.TEXTIDX_BUCKETS,
            tx._postings_plan(source), "bucket", 8,
            finalize=lambda: tx._write_collection_stats(spark, idx),
        )

    grown = str(tmp_path / "grown")
    build(grown, half)
    assert tx.textidx_ingest(spark, rest, grown) > 0
    frozen = tx.read_collection_stats(spark, grown).first()
    fresh_dir = str(tmp_path / "fresh")
    build(fresh_dir, docs)
    want = tx.read_collection_stats(spark, fresh_dir).first()
    # negative: frozen stats are the half-corpus ones, NOT the full ones
    assert frozen["n_docs"] != want["n_docs"]
    # refresh-compact: stats now equal the fresh build's
    tx.textidx_compact(spark, grown, refresh_stats=True)
    got = tx.read_collection_stats(spark, grown).first()
    assert got["n_docs"] == want["n_docs"]
    assert abs(got["avgdl"] - want["avgdl"]) < 1e-12
    # and the scores equal a fresh build's, row for row
    a = sorted(
        (r["doc_id"], round(r["bm25"], 9))
        for r in tx.bm25_scores_indexed(spark, SF, grown).collect()
    )
    b = sorted(
        (r["doc_id"], round(r["bm25"], 9))
        for r in tx.bm25_scores_indexed(spark, SF, fresh_dir).collect()
    )
    assert a == b and a


def test_textidx_refresh_stats_crash_safe_swap(spark, tmp_path):
    """The refreshed stats ride the compaction's tmp table: ingest leaves
    the build-time stats frozen, a refresh-compact swaps the recomputed
    stats in with the rewritten postings and leaves no tmp table. (The
    crash windows of that swap are test_lifecycle_families's crash matrix,
    ``text_refresh_compact``.)"""
    from bert_etl_spark.operators import text as tx

    docs = registry.tbl(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    tx._textidx_open_or_build(
        spark, SF, idx, docs.filter(F.col("doc_id") % 2 == 0)
    )
    frozen_docs = tx.read_collection_stats(spark, idx).first()["n_docs"]
    tx.textidx_ingest(spark, docs.filter(F.col("doc_id") % 2 == 1), idx)
    assert tx.read_collection_stats(spark, idx).first()["n_docs"] == frozen_docs
    tx.textidx_compact(spark, idx, refresh_stats=True)
    got = tx.read_collection_stats(spark, idx).first()
    assert got["n_docs"] == docs.count() != frozen_docs
    assert not os.path.exists(f"{idx}{life.TMP_SUFFIX}")


def _mk_rebuilt_fixture(spark, tmp_path, name="rb"):
    """Standing IVF-PQ scratch index + the drift-demo mutations, shared
    by the rebuild tests: build, delete the training seeds, ingest a
    shifted batch. Returns (idx, vectors — the full resolving source)."""
    idx = str(tmp_path / name)
    sim.ivfpq_build_or_open(spark, SF, idx)
    emb = registry.tbl(spark, SF, "embeddings")
    sim.ivfpq_index_delete(
        spark, spark.range(sim.PQ_K).select(F.col("id").alias("vec_id")), idx
    )
    shifted = emb.filter(
        (F.col("vec_id") >= sim.DRIFT_SRC_START)
        & (F.col("vec_id") < sim.DRIFT_SRC_START + sim.DRIFT_N)
    ).select(
        (F.col("vec_id") + sim.DRIFT_OFFSET).alias("vec_id"),
        "label",
        F.transform(
            "embedding",
            lambda x: (x.cast("double") + F.lit(sim.DRIFT_DELTA)).cast(
                "float"
            ),
        ).alias("embedding"),
    )
    sim.ivfpq_index_ingest(spark, shifted, idx)
    vectors = emb.select("vec_id", "embedding").unionByName(
        shifted.select("vec_id", "embedding")
    )
    return idx, vectors


def _probe_rows(spark, idx):
    return sorted(
        tuple(r)
        for r in sim._ivfpq_topk(spark, SF, idx)
        .select("q_id", "neighbor_id", "adc_dot", "rn")
        .collect()
    )


def test_ivfpq_rebuild_retrains_and_applies_tombstones(spark, tmp_path):
    """ivfpq_index_rebuild re-trains both quantizers from the LIVE rows
    (rank-based first-N seeds, densely renumbered), re-encodes and
    re-partitions every live row, applies pending tombstones physically
    (the deleted seed keys are GONE, their tombstone files cleared)."""
    idx, vectors = _mk_rebuilt_fixture(spark, tmp_path)
    n = sim.ivfpq_index_rebuild(spark, idx, vectors)
    base_n = registry.tbl(spark, SF, "embeddings").count()
    assert n == base_n - sim.PQ_K + sim.DRIFT_N
    t = spark.read.option("basePath", idx).parquet(idx)
    assert t.count() == n
    assert t.agg(F.min("vec_id")).first()[0] == sim.PQ_K  # seeds gone
    assert not os.path.exists(f"{idx}/{life.TOMBSTONE_DIR}") or not [
        f
        for f in os.listdir(f"{idx}/{life.TOMBSTONE_DIR}")
        if not f.startswith(("_", "."))
    ]
    # re-trained codebooks: densely renumbered rank seeds over live
    cb = sim.read_codebook(spark, idx)
    assert [r.cid for r in cb] == list(range(sim.N_CENTROIDS))
    live_sorted = (
        t.orderBy("vec_id").limit(sim.N_CENTROIDS).collect()
    )
    assert [r["vec_id"] for r in live_sorted] == list(
        range(sim.PQ_K, sim.PQ_K + sim.N_CENTROIDS)
    )
    # the new centroid 0 IS the smallest live vec_id's true vector
    v16 = (
        registry.tbl(spark, SF, "embeddings")
        .filter(F.col("vec_id") == sim.PQ_K)
        .select(F.expr(sim.as_double("embedding")).alias("e"))
        .first()["e"]
    )
    assert [round(x, 12) for x in cb[0].ce] == [
        round(float(x), 12) for x in v16
    ]
    # idempotence: rebuilding again derives the identical index
    rows1 = sorted(
        tuple(r)
        for r in t.select(
            "vec_id", "cell", F.col("codes").cast("string")
        ).collect()
    )
    sim.ivfpq_index_rebuild(spark, idx, vectors)
    t2 = spark.read.option("basePath", idx).parquet(idx)
    rows2 = sorted(
        tuple(r)
        for r in t2.select(
            "vec_id", "cell", F.col("codes").cast("string")
        ).collect()
    )
    assert rows1 == rows2


def test_ivfpq_rebuild_preserves_rows_missing_from_source(spark, tmp_path):
    """Live keys the vector source cannot resolve are PRESERVED — they
    re-encode from their code reconstructions (warning emitted), never
    dropped (the index_lifecycle docstring hazard the corpus-rebuild
    shortcut would trip)."""
    import warnings as w

    idx, vectors = _mk_rebuilt_fixture(spark, tmp_path, "rb_missing")
    before = spark.read.option("basePath", idx).parquet(idx)
    # eager counts: the rebuild replaces these files. LIVE = physical
    # minus the pending seed tombstones (the rebuild applies them).
    n_live = life.apply_tombstones(spark, idx, before, "vec_id").count()
    ingested_only = sorted(
        r[0]
        for r in before.filter(
            F.col("vec_id") >= sim.DRIFT_OFFSET
        ).select("vec_id").collect()
    )
    assert len(ingested_only) == sim.DRIFT_N
    # the source resolves ONLY the corpus — the ingested batch is gone
    corpus_only = registry.tbl(spark, SF, "embeddings").select(
        "vec_id", "embedding"
    )
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        n = sim.ivfpq_index_rebuild(spark, idx, corpus_only)
    assert any(
        "missing from the vector source" in str(x.message) for x in caught
    )
    after = spark.read.option("basePath", idx).parquet(idx)
    kept = sorted(
        r[0]
        for r in after.filter(
            F.col("vec_id") >= sim.DRIFT_OFFSET
        ).select("vec_id").collect()
    )
    assert kept == ingested_only  # provably preserved
    assert after.count() == n == n_live


def test_ivfpq_rebuild_due_consults_floor_conf(spark):
    """ivfpq_rebuild_due: True exactly when mean recall_at_k of the
    audit frame sits below the conf'd floor."""
    df = spark.createDataFrame(
        [(0, 0.5), (1, 0.7)], "q_id int, recall_at_k double"
    )
    assert sim.ivfpq_rebuild_due(spark, df)  # mean 0.6 < default 0.8
    spark.conf.set(sim.IVFPQ_RECALL_REBUILD_CONF, "0.5")
    try:
        assert not sim.ivfpq_rebuild_due(spark, df)
    finally:
        spark.conf.unset(sim.IVFPQ_RECALL_REBUILD_CONF)


def test_ivf_rebuild_retrains_and_preserves(spark, tmp_path):
    """ivf_index_rebuild (vector-at-rest family — no external vector
    source): after seed-delete + drifted ingest, the rebuilt quantizer is
    the rank-based first-N over LIVE rows (dense cids), every row's cell
    is the argmax against it, tombstones are applied, ingested-only rows
    survive, and a second rebuild is a no-op on content."""
    idx = str(tmp_path / "ivf_rb")
    sim._ivf_assign(spark, SF, index_dir=idx)
    sim.ivf_index_delete(
        spark,
        spark.range(sim.N_CENTROIDS).select(F.col("id").alias("vec_id")),
        idx,
    )
    emb = registry.tbl(spark, SF, "embeddings")
    shifted = emb.filter(
        (F.col("vec_id") >= sim.DRIFT_SRC_START)
        & (F.col("vec_id") < sim.DRIFT_SRC_START + sim.DRIFT_N)
    ).select(
        (F.col("vec_id") + sim.DRIFT_OFFSET).alias("vec_id"),
        "label",
        F.transform(
            "embedding",
            lambda x: (x.cast("double") + F.lit(sim.DRIFT_DELTA)).cast(
                "float"
            ),
        ).alias("embedding"),
    )
    assert sim.ivf_index_ingest(spark, shifted, idx) == sim.DRIFT_N
    base_n = emb.count()
    n = sim.ivf_index_rebuild(spark, idx)
    assert n == base_n - sim.N_CENTROIDS + sim.DRIFT_N
    t = spark.read.option("basePath", idx).parquet(idx)
    assert t.count() == n
    assert t.agg(F.min("vec_id")).first()[0] == sim.N_CENTROIDS
    assert t.filter(F.col("vec_id") >= sim.DRIFT_OFFSET).count() == sim.DRIFT_N
    cb = sim.read_codebook(spark, idx)
    assert [r.cid for r in cb] == list(range(sim.N_CENTROIDS))
    # seed 0 = smallest live vec_id's vector
    v8 = (
        emb.filter(F.col("vec_id") == sim.N_CENTROIDS)
        .select(F.expr(sim.as_double("embedding")).alias("e"))
        .first()["e"]
    )
    assert [round(x, 12) for x in cb[0].ce] == [round(float(x), 12) for x in v8]
    # fresh parity: every row's cell == argmax against the new codebook
    bad = t.withColumn("want", F.expr(sim._argmax_cell(cb)).cast("int")).filter(
        F.col("cell") != F.col("want")
    ).count()
    assert bad == 0
    # tombstones cleared (applied physically)
    assert not os.path.exists(f"{idx}/{life.TOMBSTONE_DIR}") or not [
        f
        for f in os.listdir(f"{idx}/{life.TOMBSTONE_DIR}")
        if not f.startswith(("_", "."))
    ]
    rows1 = sorted(
        tuple(r) for r in t.select("vec_id", "cell").collect()
    )
    sim.ivf_index_rebuild(spark, idx)
    rows2 = sorted(
        tuple(r)
        for r in spark.read.option("basePath", idx)
        .parquet(idx)
        .select("vec_id", "cell")
        .collect()
    )
    assert rows1 == rows2


def test_maxsim_rebuild_retrains_from_live_tokens(spark, tmp_path):
    """maxsim_index_rebuild: delete the first 64 token vectors (docs
    0..7 — the whole training sample), rebuild, and the new quantizer is
    the next 64 live token vectors with every row re-assigned against
    it (fresh-build parity recomputed in the test)."""
    idx = str(tmp_path / "maxsim_rb")
    spark.conf.set(sim.MAXSIM_INDEX_DIR_CONF, idx)
    try:
        sim._maxsim_assign(spark, SF)  # builds the durable index
    finally:
        spark.conf.unset(sim.MAXSIM_INDEX_DIR_CONF)
    k = sim.MAXSIM_IVF_CENTROIDS
    sim.maxsim_index_delete(
        spark, spark.range(k).select(F.col("id").alias("vec_id")), idx
    )
    n = sim.maxsim_index_rebuild(spark, idx)
    t = spark.read.option("basePath", idx).parquet(idx)
    assert t.count() == n and t.agg(F.min("vec_id")).first()[0] == k
    cb = sim.read_codebook(spark, idx)
    assert [r.cid for r in cb] == list(range(k))
    vk = (
        registry.tbl(spark, SF, "embeddings")
        .filter(F.col("vec_id") == k)
        .select(F.expr(sim.as_double("embedding")).alias("e"))
        .first()["e"]
    )
    assert [round(x, 12) for x in cb[0].ce] == [round(float(x), 12) for x in vk]
    bad = t.withColumn("want", F.expr(sim._argmax_cell(cb)).cast("int")).filter(
        F.col("cell") != F.col("want")
    ).count()
    assert bad == 0
    # doc grouping preserved through the rewrite
    assert t.filter(
        F.col("doc") != F.expr(f"vec_id div {sim.MAXSIM_GROUP}")
    ).count() == 0


def test_ivfpq_upsert_reencodes_in_place(spark, tmp_path):
    """Upsert parity for the codes-at-rest family: a re-embedded key's
    row re-encodes (new cell + codes from the FROZEN quantizers) and
    replaces in place; a fresh key inserts; no duplicates; the rerank
    path still opens the index cleanly."""
    idx = str(tmp_path / "pq_ups")
    sim.ivfpq_build_or_open(spark, SF, idx)
    emb = registry.tbl(spark, SF, "embeddings")
    shift = F.transform(
        "embedding", lambda x: (x.cast("double") + F.lit(3.5)).cast("float")
    )
    batch = emb.filter(F.col("vec_id") == 77).select(
        "vec_id", "label", shift.alias("embedding")
    ).unionByName(
        emb.filter(F.col("vec_id") == 77).select(
            (F.col("vec_id") + 7_000_000).alias("vec_id"),
            "label",
            shift.alias("embedding"),
        )
    )
    total = spark.read.option("basePath", idx).parquet(idx).count()
    assert sim.ivfpq_index_upsert(spark, batch, idx) == (1, 1)
    after = spark.read.option("basePath", idx).parquet(idx)
    assert after.count() == total + 1
    rows = after.filter(
        F.col("vec_id").isin([77, 77 + 7_000_000])
    ).collect()
    assert len(rows) == 2
    # both carry the SAME (shifted) embedding -> identical cell + codes,
    # and they equal a fresh encode under the frozen quantizers
    cent = sim.read_codebook(spark, idx)
    pq = sim.read_pq_codebook(spark, idx)
    want = (
        batch.limit(1)
        .withColumn("e", F.expr(sim.as_double("embedding")))
        .select(
            F.expr(sim._argmax_cell(cent)).cast("int").alias("cell"),
            F.expr(sim._pq_codes(pq)).alias("codes"),
        )
        .first()
    )
    for r in rows:
        assert r["cell"] == want["cell"] and list(r["codes"]) == list(want["codes"])
    assert after.dropDuplicates(["vec_id"]).count() == total + 1


def test_textidx_upsert_replaces_doc_postings(spark, tmp_path):
    """Multi-row upsert: a changed document's OLD postings vanish from
    every token bucket they occupied, the new text's postings land, a
    tombstoned doc resurrects atomically, other docs' postings are
    untouched, and counts are per-DOC, not per-posting."""
    from bert_etl_spark.operators import text as tx

    tix = str(tmp_path / "tix_ups")
    tx._textidx_open_or_build(spark, SF, tix)
    phys0 = spark.read.option("basePath", tix).parquet(tix)
    # count EAGERLY: phys0 is lazy and the upsert below replaces its
    # files (the captured-frame rebuild trap)
    before_other = phys0.filter(~F.col("doc_id").isin([11, 13])).count()
    n_11 = phys0.filter(F.col("doc_id") == 11).count()
    old_13_tokens = {
        r["token"] for r in phys0.filter(F.col("doc_id") == 13).collect()
    }
    assert old_13_tokens  # the doc has postings to replace
    assert tx.textidx_delete(
        spark, spark.createDataFrame([(13,)], "doc_id long"), tix
    ) == 1
    changed = spark.createDataFrame(
        [(13, "zebra quokka zebra"), (9_000_777, "quokka dup")],
        "doc_id long, text string",
    )
    assert tx.textidx_upsert(spark, changed, tix) == (1, 1)
    phys = spark.read.option("basePath", tix).parquet(tix)
    # old postings gone everywhere, new ones exactly the new text's
    got_13 = {
        (r["token"], r["tf"])
        for r in phys.filter(F.col("doc_id") == 13)
        .select("token", "tf")
        .collect()
    }
    assert got_13 == {("zebra", 2), ("quokka", 1)}
    # resurrected: no tombstone masks doc 13 anymore
    live = life.apply_tombstones(spark, tix, phys, "doc_id")
    assert live.filter(F.col("doc_id") == 13).count() == 2
    assert live.filter(F.col("doc_id") == 9_000_777).count() == 2
    # bystanders untouched
    assert phys.filter(~F.col("doc_id").isin([13, 9_000_777])).count() == (
        before_other + n_11
    )
    # idempotent re-run (deterministic rewrite)
    assert tx.textidx_upsert(spark, changed, tix) == (2, 0)
    assert {
        (r["token"], r["tf"])
        for r in spark.read.option("basePath", tix)
        .parquet(tix)
        .filter(F.col("doc_id") == 13)
        .select("token", "tf")
        .collect()
    } == {("zebra", 2), ("quokka", 1)}


def test_textidx_upsert_crash_mid_swap_recovers(spark, tmp_path, monkeypatch):
    """Crash inside the multi-row upsert's sentinel window: open_index
    finishes the swap and the posting table equals a completed
    document upsert's, bucket for bucket."""
    from bert_etl_spark.operators import text as tx

    changed = spark.createDataFrame(
        [(13, "zebra quokka zebra"), (9_000_778, "quokka dup")],
        "doc_id long, text string",
    )

    def scenario(name, crash):
        tix = str(tmp_path / name)
        tx._textidx_open_or_build(spark, SF, tix)
        if crash:
            def boom(*a, **kw):
                raise RuntimeError("simulated crash mid-swap")

            monkeypatch.setattr(life, "finish_compaction_swap", boom)
            with pytest.raises(RuntimeError, match="simulated crash"):
                tx.textidx_upsert(spark, changed, tix)
            monkeypatch.undo()
            assert (
                read_int_marker(spark, f"{tix}/{life.PENDING_SENTINEL}")
                is not None
            )
            assert (
                read_int_marker(spark, f"{tix}/{tx._TEXTIDX_MARKER}") is None
            )
            assert (
                life.open_index(spark, tix, tx._TEXTIDX_MARKER, "bucket")
                == tx.TEXTIDX_BUCKETS
            )
        else:
            assert tx.textidx_upsert(spark, changed, tix) == (1, 1)
        return sorted(
            (r.doc_id, r.token, r.tf, r.bucket)
            for r in spark.read.option("basePath", tix)
            .parquet(tix)
            .select("doc_id", "token", "tf", "bucket")
            .collect()
        )

    want = scenario("tix_done", crash=False)
    got = scenario("tix_crash", crash=True)
    assert got == want
    assert not os.path.exists(f"{tmp_path}/tix_crash{life.TMP_SUFFIX}")


def test_upsert_empty_dir_staging_survives_crash(spark, tmp_path, monkeypatch):
    """The partial swap's fully-drained rule under a crash: all rows of
    one cell move away, the verb stages that cell as an EMPTY tmp dir,
    the crash hits mid-swap — recovery must still REPLACE (drain) the
    old dir, leaving no duplicate and no resurrected rows."""
    idx = _mk_ivf_idx(spark, tmp_path, "ivf_drain_crash")
    phys = spark.read.option("basePath", idx).parquet(idx)
    cells = [
        (r["cell"], r["n"])
        for r in phys.groupBy("cell").agg(F.count("*").alias("n")).collect()
    ]
    src_cell = min(cells, key=lambda c: c[1])[0]
    dst_cell = max(cells, key=lambda c: c[1])[0]
    cb = {
        int(r.cid): [float(x) for x in r.ce]
        for r in sim.read_codebook(spark, idx)
    }
    victims = [
        int(r["vec_id"])
        for r in phys.filter(F.col("cell") == src_cell)
        .select("vec_id")
        .collect()
    ]
    total = phys.count()
    batch = spark.createDataFrame(
        [(v, [float(x) for x in cb[dst_cell]]) for v in victims],
        "vec_id long, embedding array<double>",
    )

    def boom(*a, **kw):
        raise RuntimeError("simulated crash mid-swap")

    monkeypatch.setattr(life, "finish_compaction_swap", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        sim.ivf_index_upsert(spark, batch, idx)
    monkeypatch.undo()
    # the staged EMPTY dir is in tmp awaiting the swap
    assert os.path.isdir(f"{idx}{life.TMP_SUFFIX}/cell={src_cell}")
    assert (
        life.open_index(spark, idx, sim._IVF_MARKER, "cell")
        == sim.N_CENTROIDS
    )
    after = spark.read.option("basePath", idx).parquet(idx)
    assert after.count() == total
    assert after.filter(F.col("cell") == src_cell).count() == 0
    assert after.dropDuplicates(["vec_id"]).count() == total


def test_ivf_upsert_delete_combined_one_swap(spark, tmp_path):
    """upsert_delete_rows through the IVF combined wrapper (the
    cdc_index_sync fast path, round-15): ONE rewrite/swap lands BOTH
    key sets — drop keys physically removed with no tombstone recorded,
    an existing key replaced in place, a fresh key inserted, a
    tombstoned batch key resurrected, and a tombstoned drop key's
    now-pointless tombstone cleared. Counts match the sequential
    delete-then-upsert contract (n_deleted = physically present and not
    already tombstoned), and a replay converges with n_deleted=0."""
    idx = _mk_ivf_idx(spark, tmp_path, "ivf_upsdel")
    emb = registry.tbl(spark, SF, "embeddings")
    total = emb.count()
    # pre-tombstone: 50 (resurrected by the upsert side below) and 60
    # (dropped below — physically present but already tombstoned, so it
    # must NOT count toward n_deleted)
    dead = spark.createDataFrame([(50,), (60,)], "vec_id long")
    assert sim.ivf_index_delete(spark, dead, idx) == 2
    upd = emb.filter(F.col("vec_id") == 100).select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: (x.cast("double") + F.lit(7.25)).cast("float")
        ).alias("embedding"),
    )
    ins = emb.filter(F.col("vec_id") == 100).select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"), "label", "embedding"
    )
    res = emb.filter(F.col("vec_id") == 50).select(
        "vec_id", "label", "embedding"
    )
    batch = upd.unionByName(ins).unionByName(res)
    # drops: 40 live (counts), 60 tombstoned-but-physical (removed, not
    # counted), 9_999_999 never ingested (no-op)
    drops = spark.createDataFrame(
        [(40,), (60,), (9_999_999,)], "vec_id long"
    )
    nd, nr, ni = sim.ivf_index_upsert_delete(spark, batch, drops, idx)
    assert (nd, nr, ni) == (1, 2, 1)
    phys = spark.read.option("basePath", idx).parquet(idx)
    assert phys.filter(F.col("vec_id").isin(40, 60)).count() == 0  # gone
    assert phys.filter(F.col("vec_id") == 100).count() == 1  # replaced
    got = phys.filter(F.col("vec_id") == 100).select("e").first()["e"]
    want = [
        float(x) + 7.25
        for x in emb.filter(F.col("vec_id") == 100).first()["embedding"]
    ]
    assert got == pytest.approx(want)
    live = life.apply_tombstones(spark, idx, phys, "vec_id")
    assert live.filter(F.col("vec_id") == 50).count() == 1  # resurrected
    assert live.count() == total - 2 + 1
    # every standing tombstone was cleared in the staged artifact: 50
    # resurrected, 60 physically removed; no NEW tombstone for the drops
    ts = life.tombstones(spark, idx)
    assert ts is None or ts.count() == 0
    # replay of the identical sync delta: drops already absent (nd=0),
    # batch keys all standing (3 replaced, 0 inserted) — same end state
    nd2, nr2, ni2 = sim.ivf_index_upsert_delete(spark, batch, drops, idx)
    assert (nd2, nr2, ni2) == (0, 3, 0)
    live2 = life.apply_tombstones(
        spark,
        idx,
        spark.read.option("basePath", idx).parquet(idx),
        "vec_id",
    )
    assert live2.count() == total - 2 + 1
    # all-delete sync (empty batch, absent keys): the documented no-op
    assert sim.ivf_index_upsert_delete(
        spark, batch.limit(0), drops, idx
    ) == (0, 0, 0)


def test_observed_distinct_bounded_and_exact(spark):
    """functions/observe.observed_distinct: the distinct value set of a
    column rides a noop scan as an observed collect_set — exact on
    duplicates, works with a Column expression, and returns [] for an
    empty frame (the reliable_metrics empty-subtree case)."""
    from bert_etl_spark.functions.observe import observed_distinct

    df = spark.range(0, 1000).selectExpr("id % 7 AS v", "id AS k")
    assert observed_distinct(df, "v") == list(range(7))
    assert observed_distinct(df, F.pmod(F.col("k"), F.lit(3))) == [0, 1, 2]
    assert observed_distinct(df.filter("k < 0"), "v") == []


def test_schema_memo_caches_and_invalidates_on_rewrite(spark, tmp_path):
    """read_with_cached_schema (round-15): the fixed-schema index
    tables' parquet schema is inferred once per session and reused;
    every rewrite COMMIT (finish_compaction_swap — all rewrite verbs
    commit through it) invalidates, so a reader can never see a stale
    schema after a migration-style rewrite."""
    idx = _mk_ivf_idx(spark, tmp_path, "ivf_schema_memo")
    app = spark.sparkContext.applicationId
    life._SCHEMA_MEMO.pop((app, idx), None)
    df1 = life.read_with_cached_schema(spark, idx, [idx], base_path=idx)
    assert (app, idx) in life._SCHEMA_MEMO
    n1 = df1.count()  # before the rewrite — df1's file listing goes
    df2 = life.read_with_cached_schema(spark, idx, [idx], base_path=idx)
    assert df2.schema == df1.schema
    # a rewrite through the sentinel protocol drops the memo
    sim.ivf_index_compact(spark, idx)
    assert (app, idx) not in life._SCHEMA_MEMO
    # and the post-rewrite read re-infers and still matches the data
    df3 = life.read_with_cached_schema(spark, idx, [idx], base_path=idx)
    assert {f.name for f in df3.schema} == {f.name for f in df1.schema}
    assert df3.count() == n1


def _ivf_oracle(spark, idx, live_keys, top_cells):
    """sim_ivf's answer over the live vectors ``live_keys`` of the IVF
    index ``idx``, computed in Python from the corpus and the frozen
    codebook: cells by argmax dot, probes by top-N_PROBES, exact cosine
    top-k over the probed cells' vectors (same double operation order
    as the Spark plan, so the rounded scores compare exactly)."""
    import math

    cb = sim.read_codebook(spark, idx)
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in registry.tbl(spark, SF, "embeddings").collect()
    }

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def nrm(v):
        return math.sqrt(dot(v, v))

    cell = {k: min(top_cells([vecs[k]], cb, 1)) for k in live_keys}
    out = []
    for q in range(sim.N_QUERIES):
        probed = top_cells([vecs[q]], cb, sim.N_PROBES)
        scored = sorted(
            (-dot(vecs[c], vecs[q]) / (nrm(vecs[c]) * nrm(vecs[q])), c)
            for c in live_keys
            if c != q and cell[c] in probed
        )
        out += [
            (q, c, round(-negcos, 6), rn)
            for rn, (negcos, c) in enumerate(scored[: sim.TOP_K], 1)
        ]
    return sorted(out)


@pytest.mark.parametrize("drained", ["some_cells", "every_probed_cell"])
def test_ivf_probe_over_drained_cells_memo_cold(
    spark, tmp_path, monkeypatch, top_cells, drained
):
    """A probe in a fresh process (no schema or artifact memo) over an
    IVF index whose cells ivf_index_upsert_delete drained to EMPTY staged
    dirs — some cells, or every cell the queries probe — returns the
    oracle answer: the root-wide schema inference skips the empty dirs
    and the probe reads the remaining cells."""
    idx = _mk_ivf_idx(spark, tmp_path, f"ivf_drained_{drained}")
    cb = sim.read_codebook(spark, idx)
    emb = registry.tbl(spark, SF, "embeddings")
    keys = [r["vec_id"] for r in emb.select("vec_id").collect()]
    probed = top_cells(_query_vectors(spark, sim.N_QUERIES), cb, sim.N_PROBES)
    cells = _data_parts(idx, "cell")
    if drained == "some_cells":
        doomed_cells = {min(probed), *(cells - probed)}
    else:
        doomed_cells = set(probed)
    assert doomed_cells < cells  # some cell keeps data for inference
    assign = {
        r["vec_id"]: r["cell"]
        for r in spark.read.option("basePath", idx).parquet(idx)
        .select("vec_id", "cell")
        .collect()
    }
    doomed = [k for k in keys if assign[k] in doomed_cells]
    drops = spark.createDataFrame([(k,) for k in doomed], "vec_id long")
    empty = emb.limit(0).select("vec_id", "label", "embedding")
    assert sim.ivf_index_upsert_delete(spark, empty, drops, idx)[0] == len(
        doomed
    )
    for c in doomed_cells:  # drained to empty staged dirs
        assert os.path.isdir(f"{idx}/cell={c}")
    assert _data_parts(idx, "cell") == cells - doomed_cells
    live = sorted(set(keys) - set(doomed))
    want = _ivf_oracle(spark, idx, live, top_cells)
    assert want or drained == "every_probed_cell"
    # memo-cold, as in a fresh process
    monkeypatch.setattr(life, "_SCHEMA_MEMO", {})
    monkeypatch.setattr(sim, "_ARTIFACT_MEMO", {})
    spark.conf.set(sim.IVF_INDEX_DIR_CONF, idx)
    try:
        assert _rows(spark, "sim_ivf") == want
    finally:
        spark.conf.unset(sim.IVF_INDEX_DIR_CONF)


@pytest.mark.parametrize(
    "name,conf,max_jobs",
    [
        ("sim_ivf", sim.IVF_INDEX_DIR_CONF, 6),
        ("sim_ivfpq_probe", sim.IVFPQ_INDEX_DIR_CONF, 9),
        ("sim_lsh_index_probe", sim.SIMLSH_INDEX_DIR_CONF, 4),
        ("text_bm25_indexed", None, 7),  # its own session-scoped index
        ("text_phrase_search_indexed", "spark.bert_etl.textidx.indexDir", 2),
    ],
)
def test_warm_index_probe_job_budget(spark, tmp_path, name, conf, max_jobs):
    """A probe of a warm durable index is one Spark execution: building
    its DataFrame starts no job but parquet schema inference (the
    partitions to read are pruned inside the plan, never collected
    first), and the whole request stays within its job budget."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    fn = registry.ALL_QUERIES[name]
    if conf:
        spark.conf.set(conf, str(tmp_path / "idx"))
    try:
        for _ in range(2):  # build, then warm every memo
            fn(spark, SF).collect()
        group = f"{name}-{tmp_path.name}"
        sc.setJobGroup(group, name)
        df = fn(spark, SF)
        bus.waitUntilEmpty()
        build = tracker.getJobIdsForGroup(group)
        for job in build:
            names = [
                tracker.getStageInfo(s).name
                for s in tracker.getJobInfo(job).stageIds
            ]
            assert all(n.startswith("parquet at") for n in names), names
        assert df.collect()
        bus.waitUntilEmpty()
        jobs = tracker.getJobIdsForGroup(group)
        assert len(jobs) <= max_jobs, (len(build), len(jobs))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        if conf:
            spark.conf.unset(conf)
