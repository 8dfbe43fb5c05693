"""Round-14 scale measurements at the 100x replica
(tools/make_scale10.py /tmp/scale100 100 — ~sf10, 500k docs / 1.5M orders /
600k vectors / 60M lineitem). One JVM per step (the r12/r13 pattern);
release_internals between queries.

Usage: python tools/r14_measurements.py <step> [sf_dir]
  mmr      — sim_mmr_batch_indexed against a conf'd standing IVF-PQ index:
             build+probe cold, then warm probes; sim_ivfpq_rerank warm as
             the comparator (the indexed-MMR pool is the ADC shortlist +
             one bounded exact fetch — warm cost should sit near the warm
             rerank). Round-13 'next round' item #6.
  textdel  — textidx_delete with a BARE doc_id feed against the standing
             100x positional index: the slim one-column key scan is the
             documented honest cost of not knowing the doc's buckets
             (a doc's postings span many token buckets, so the
             single-part keymap cannot help) — this row prices it.
             Round-13 'next round' item #5 (text-index leg).
  rebuild  — ivfpq_index_rebuild at the 100x index (600k vectors):
             standing build, seed-delete + drifted ingest, then the
             in-place re-train/re-encode/swap; fresh build time as the
             comparator (rebuild ~ build + resolve join is the expected
             shape). Round-13 'next round' item #1.
  rebucket — cdc_rebucket at a 9.4M-key standing op log: 64 -> 256
             buckets (fold + re-hash + swap), with point-lookup timings
             before and after (the verb exists so a saturated modulus
             can grow — lookups prune under the new modulus).
             Round-13 'next round' item #3.
  refresh  — textidx_compact(refresh_stats=True) vs plain compact at the
             100x index after an ingest epoch: the stats recompute rides
             the rewrite (one extra distinct-doc aggregate over the tmp
             table). Round-13 'next round' item #2.
  ivfrebuild    — ivf_index_rebuild (vector-at-rest single-vector family):
             build, seed-delete + drifted ingest, in-place re-train.
  maxsimrebuild — maxsim_index_rebuild: same scenario on the multi-vector
             family's standing index.
  lshmigrate    — simlsh_index_rebuild: 4->8-plane capacity migration of a
             grown sign-LSH index, probe timings before/after (the probe
             scans |Q| buckets of 16 vs 256 — fan-out is the point).
  upsert   — ivf_index_upsert at the 100x standing index: 10k re-embedded
             keys replaced in place + 10k inserted in one partial-swap
             call; the slim locate scan and the touched-cell rewrite are
             the two priced components (vs an ingest-only epoch).
  sync     — cdc_index_sync end to end at 100x: apply a changed-keys CDC
             epoch (re-embeds + inserts + deletes) to the op log, then
             converge the standing IVF index; a second empty-delta sync
             prices the watermark no-op.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def _spark():
    return (
        SparkSession.builder.master("local[32]")
        .config("spark.driver.memory", "100g")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )


def _run(spark, name, sf_dir, tag):
    from bert_etl_spark.operators import registry

    t0 = time.time()
    n = registry.ALL_QUERIES[name](spark, sf_dir).count()
    dt = time.time() - t0
    registry.release_internals()
    print(f"[{tag}] {name}: {dt:.1f} s ({n} rows)", flush=True)
    return dt


def main() -> None:
    step = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale100"
    spark = _spark()
    from pyspark.sql import functions as F

    from bert_etl_spark.operators import registry

    registry.load_all()
    work = tempfile.mkdtemp(prefix="r14_meas_")
    try:
        if step == "mmr":
            spark.conf.set("spark.bert_etl.ivfpq.indexDir", f"{work}/ivfpq")
            _run(spark, "sim_mmr_batch_indexed", sf_dir, "build+probe")
            _run(spark, "sim_mmr_batch_indexed", sf_dir, "warm")
            _run(spark, "sim_mmr_batch_indexed", sf_dir, "warm")
            _run(spark, "sim_ivfpq_rerank", sf_dir, "rerank-warm")
        elif step == "textdel":
            from bert_etl_spark.operators import text as tx

            spark.conf.set("spark.bert_etl.textidx.indexDir", f"{work}/tix")
            tx._textidx_open_or_build(spark, sf_dir, f"{work}/tix")
            print("[build] standing positional index built", flush=True)
            for i, tag in enumerate(("cold", "warm", "warm")):
                doomed = spark.range(100).select(
                    (F.col("id") * 997 + i * 131).alias("doc_id")
                )
                t0 = time.time()
                n = tx.textidx_delete(spark, doomed, f"{work}/tix")
                print(
                    f"[textdel-{tag}] 100 bare doc_ids: "
                    f"{time.time() - t0:.1f} s ({n} tombstones)",
                    flush=True,
                )
            # comparator: one ingest epoch (the touched-bucket cost)
            docs = registry.tbl(spark, sf_dir, "documents").limit(1000)
            batch = docs.select(
                (F.col("doc_id") + 90_000_000).alias("doc_id"), "text"
            )
            t0 = time.time()
            n = tx.textidx_ingest(spark, batch, f"{work}/tix")
            print(
                f"[ingest-epoch] 1000 docs: {time.time() - t0:.1f} s "
                f"({n} postings)",
                flush=True,
            )
        elif step == "rebuild":
            import bert_etl_spark.operators.similarity as sim

            idx = f"{work}/ivfpq"
            t0 = time.time()
            sim.ivfpq_build_or_open(spark, sf_dir, idx)
            print(f"[build] standing IVF-PQ: {time.time() - t0:.1f} s", flush=True)
            emb = registry.tbl(spark, sf_dir, "embeddings")
            t0 = time.time()
            nd = sim.ivfpq_index_delete(
                spark,
                spark.range(sim.PQ_K).select(F.col("id").alias("vec_id")),
                idx,
            )
            print(
                f"[seed-delete] {nd} bare keys: {time.time() - t0:.1f} s",
                flush=True,
            )
            shifted = emb.filter(
                (F.col("vec_id") >= sim.DRIFT_SRC_START)
                & (F.col("vec_id") < sim.DRIFT_SRC_START + 10_000)
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
            t0 = time.time()
            ni = sim.ivfpq_index_ingest(spark, shifted, idx)
            print(f"[ingest] {ni} drifted: {time.time() - t0:.1f} s", flush=True)
            vectors = emb.select("vec_id", "embedding").unionByName(
                shifted.select("vec_id", "embedding")
            )
            t0 = time.time()
            nr = sim.ivfpq_index_rebuild(spark, idx, vectors)
            print(
                f"[rebuild] {nr} live rows re-trained/re-encoded/swapped: "
                f"{time.time() - t0:.1f} s",
                flush=True,
            )
            t0 = time.time()
            n = sim._ivfpq_topk(spark, sf_dir, idx).count()
            print(
                f"[probe-after] {n} rows: {time.time() - t0:.1f} s",
                flush=True,
            )
        elif step == "rebucket":
            from bert_etl_spark.streaming import events as ev

            state_keys = 9_400_000
            state = f"{work}/state"
            seed = spark.range(state_keys).select(
                F.col("id").alias("k"),
                F.lit(0).cast("int").alias("seq"),
                F.lit("U").alias("op"),
                F.col("id").cast("double").alias("price"),
            )
            seed.repartition(32).write.parquet(f"{work}/seed")
            t0 = time.time()
            ev.cdc_apply_stream(
                spark.readStream.schema(
                    "k long, seq int, op string, price double"
                ).parquet(f"{work}/seed"),
                state,
                f"{work}/ck",
            ).awaitTermination()
            print(f"[seed] {state_keys} keys: {time.time() - t0:.1f} s", flush=True)
            keys = spark.range(1000).select(
                (F.col("id") * 9973 % state_keys).alias("k")
            )
            t0 = time.time()
            n = ev.cdc_lookup(spark, state, keys).count()
            print(
                f"[lookup-before 64bkt] 1000 keys: {time.time() - t0:.1f} s "
                f"({n} rows)",
                flush=True,
            )
            t0 = time.time()
            n = ev.cdc_rebucket(spark, state, 256)
            print(
                f"[rebucket 64->256] {n} rows: {time.time() - t0:.1f} s",
                flush=True,
            )
            for tag in ("cold", "warm"):
                t0 = time.time()
                n = ev.cdc_lookup(spark, state, keys).count()
                print(
                    f"[lookup-after-{tag} 256bkt] 1000 keys: "
                    f"{time.time() - t0:.1f} s ({n} rows)",
                    flush=True,
                )
        elif step == "refresh":
            from bert_etl_spark.operators import text as tx

            idx = f"{work}/tix"
            spark.conf.set("spark.bert_etl.textidx.indexDir", idx)
            tx._textidx_open_or_build(spark, sf_dir, idx)
            docs = registry.tbl(spark, sf_dir, "documents").limit(5000)
            batch = docs.select(
                (F.col("doc_id") + 90_000_000).alias("doc_id"), "text"
            )
            n = tx.textidx_ingest(spark, batch, idx)
            print(f"[ingest] {n} postings", flush=True)
            t0 = time.time()
            n = tx.textidx_compact(spark, idx)
            print(f"[compact-plain] {n} rows: {time.time() - t0:.1f} s", flush=True)
            batch2 = docs.select(
                (F.col("doc_id") + 95_000_000).alias("doc_id"), "text"
            )
            tx.textidx_ingest(spark, batch2, idx)
            t0 = time.time()
            n = tx.textidx_compact(spark, idx, refresh_stats=True)
            print(
                f"[compact-refresh] {n} rows: {time.time() - t0:.1f} s",
                flush=True,
            )
            st = tx.read_collection_stats(spark, idx).first()
            print(
                f"[stats] n_docs={st['n_docs']} avgdl={st['avgdl']:.2f}",
                flush=True,
            )
        elif step == "ivfrebuild":
            import bert_etl_spark.operators.similarity as sim

            idx = f"{work}/ivf"
            t0 = time.time()
            sim._ivf_assign(spark, sf_dir, index_dir=idx)
            print(f"[build] standing IVF: {time.time() - t0:.1f} s", flush=True)
            t0 = time.time()
            nd = sim.ivf_index_delete(
                spark,
                spark.range(sim.N_CENTROIDS).select(F.col("id").alias("vec_id")),
                idx,
            )
            print(f"[seed-delete] {nd} bare keys: {time.time() - t0:.1f} s", flush=True)
            emb = registry.tbl(spark, sf_dir, "embeddings")
            shifted = emb.filter(
                (F.col("vec_id") >= sim.DRIFT_SRC_START)
                & (F.col("vec_id") < sim.DRIFT_SRC_START + 10_000)
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
            t0 = time.time()
            ni = sim.ivf_index_ingest(spark, shifted, idx)
            print(f"[ingest] {ni} drifted: {time.time() - t0:.1f} s", flush=True)
            t0 = time.time()
            nr = sim.ivf_index_rebuild(spark, idx)
            print(
                f"[rebuild] {nr} live rows re-trained/re-assigned/swapped: "
                f"{time.time() - t0:.1f} s",
                flush=True,
            )
            t0 = time.time()
            assign = sim._ivf_assign(spark, sf_dir, index_dir=idx)
            n = sim._ivf_topk(spark, sf_dir, assign, idx).count()
            print(f"[probe-after] {n} rows: {time.time() - t0:.1f} s", flush=True)
        elif step == "maxsimrebuild":
            import bert_etl_spark.operators.similarity as sim

            idx = f"{work}/maxsim"
            spark.conf.set(sim.MAXSIM_INDEX_DIR_CONF, idx)
            t0 = time.time()
            sim._maxsim_assign(spark, sf_dir)
            print(f"[build] standing MaxSim: {time.time() - t0:.1f} s", flush=True)
            t0 = time.time()
            nd = sim.maxsim_index_delete(
                spark,
                spark.range(sim.MAXSIM_IVF_CENTROIDS).select(
                    F.col("id").alias("vec_id")
                ),
                idx,
            )
            print(f"[seed-delete] {nd} bare keys: {time.time() - t0:.1f} s", flush=True)
            emb = registry.tbl(spark, sf_dir, "embeddings")
            batch = emb.select(
                (F.col("vec_id") + 7_000_000).alias("vec_id"), "embedding"
            ).limit(10_000)
            t0 = time.time()
            ni = sim.maxsim_index_ingest(spark, batch, idx)
            print(f"[ingest] {ni} rows: {time.time() - t0:.1f} s", flush=True)
            t0 = time.time()
            nr = sim.maxsim_index_rebuild(spark, idx)
            print(
                f"[rebuild] {nr} live token vectors re-trained/swapped: "
                f"{time.time() - t0:.1f} s",
                flush=True,
            )
            t0 = time.time()
            n = registry.ALL_QUERIES["sim_maxsim_ivf"](spark, sf_dir).count()
            print(f"[probe-after] {n} rows: {time.time() - t0:.1f} s", flush=True)
        elif step == "lshmigrate":
            import bert_etl_spark.operators.similarity as sim
            from bert_etl_spark.operators import index_lifecycle as life
            from pyspark.sql import Window

            idx = f"{work}/lsh"

            def _lsh_probe(planes_n, tag):
                t0 = time.time()
                qs = (
                    sim._prepared(spark, sf_dir)
                    .filter(F.col("vec_id") < sim.N_QUERIES)
                    .select(
                        F.col("vec_id").alias("q_id"),
                        F.col("e").alias("qe"),
                        F.col("nrm").alias("qnrm"),
                        F.expr(sim.sign_bucket("e", sim.planes_for(planes_n)))
                        .cast("int")
                        .alias("bucket"),
                    )
                )
                touched = [
                    r["bucket"]
                    for r in qs.select("bucket").distinct().collect()
                ]
                table = sim._lsh_index_columns(
                    life.pruned_scan(spark, idx, "bucket", touched)
                )
                cos = F.expr(sim.COS)
                w = Window.partitionBy("q_id").orderBy(
                    F.desc("cosine"), "vec_id"
                )
                n = (
                    table.join(F.broadcast(qs), "bucket")
                    .filter(F.col("vec_id") != F.col("q_id"))
                    .withColumn("cosine", cos)
                    .withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") <= sim.TOP_K)
                    .count()
                )
                print(
                    f"[probe-{tag} {planes_n}p] {len(touched)} buckets, "
                    f"{n} rows: {time.time() - t0:.1f} s",
                    flush=True,
                )

            assign = (
                sim._prepared(spark, sf_dir)
                .withColumn("bucket", F.expr(sim.sign_bucket("e")))
                .drop("label")
            )
            t0 = time.time()
            life.build_index(
                spark, idx, sim._SIMLSH_MARKER, sim.N_PLANES, assign,
                "bucket", 16,
            )
            print(
                f"[build] standing {sim.N_PLANES}-plane sign-LSH: "
                f"{time.time() - t0:.1f} s",
                flush=True,
            )
            emb = registry.tbl(spark, sf_dir, "embeddings")
            batch = emb.select(
                (F.col("vec_id") + 7_000_000).alias("vec_id"), "embedding"
            ).limit(10_000)
            t0 = time.time()
            ni = sim.simlsh_index_ingest(spark, batch, idx)
            print(f"[ingest] {ni} rows: {time.time() - t0:.1f} s", flush=True)
            _lsh_probe(sim.N_PLANES, "before")
            t0 = time.time()
            nr = sim.simlsh_index_rebuild(spark, idx, 8)
            print(
                f"[migrate {sim.N_PLANES}->8 planes] {nr} rows re-hashed/"
                f"swapped: {time.time() - t0:.1f} s",
                flush=True,
            )
            _lsh_probe(8, "after")
            _lsh_probe(8, "after-warm")
        elif step == "upsert":
            import bert_etl_spark.operators.similarity as sim

            idx = f"{work}/ivf"
            t0 = time.time()
            sim._ivf_assign(spark, sf_dir, index_dir=idx)
            print(f"[build] standing IVF: {time.time() - t0:.1f} s", flush=True)
            emb = registry.tbl(spark, sf_dir, "embeddings")
            upd = emb.filter(
                (F.col("vec_id") >= 1000) & (F.col("vec_id") < 11_000)
            ).select(
                "vec_id",
                "label",
                F.transform(
                    "embedding",
                    lambda x: (x.cast("double") + F.lit(0.25)).cast("float"),
                ).alias("embedding"),
            )
            ins = upd.select(
                (F.col("vec_id") + 8_000_000).alias("vec_id"),
                "label",
                "embedding",
            )
            # comparator: a plain ingest epoch of the same insert volume
            t0 = time.time()
            ni = sim.ivf_index_ingest(
                spark,
                ins.select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                           "label", "embedding"),
                idx,
            )
            print(f"[ingest-epoch] {ni} rows: {time.time() - t0:.1f} s", flush=True)
            t0 = time.time()
            nr, nin = sim.ivf_index_upsert(spark, upd.unionByName(ins), idx)
            print(
                f"[upsert] {nr} replaced + {nin} inserted: "
                f"{time.time() - t0:.1f} s",
                flush=True,
            )
            t0 = time.time()
            assign = sim._ivf_assign(spark, sf_dir, index_dir=idx)
            n = sim._ivf_topk(spark, sf_dir, assign, idx).count()
            print(f"[probe-after] {n} rows: {time.time() - t0:.1f} s", flush=True)
        elif step == "sync":
            import bert_etl_spark.operators.similarity as sim
            from bert_etl_spark.streaming import events as ev

            idx = f"{work}/ivf"
            t0 = time.time()
            sim._ivf_assign(spark, sf_dir, index_dir=idx)
            print(f"[build] standing IVF: {time.time() - t0:.1f} s", flush=True)
            emb = registry.tbl(spark, sf_dir, "embeddings")
            upd = emb.filter(F.col("vec_id") % 19 == 1).select(
                F.col("vec_id").alias("k"),
                F.lit(1).cast("int").alias("seq"),
                F.lit("U").alias("op"),
                F.transform(
                    "embedding",
                    lambda x: (x.cast("double") + F.lit(0.25)).cast("float"),
                ).alias("embedding"),
                F.col("label").cast("int").alias("label"),
            )
            ins = upd.select(
                (F.col("k") + 17_000_000_000).alias("k"), "seq", "op",
                "embedding", "label",
            )
            dels = emb.filter(F.col("vec_id") % 19 == 2).select(
                F.col("vec_id").alias("k"),
                F.lit(1).cast("int").alias("seq"),
                F.lit("D").alias("op"),
                F.lit(None).cast("array<float>").alias("embedding"),
                F.lit(None).cast("int").alias("label"),
            )
            ops = upd.unionByName(ins).unionByName(dels)
            ops.coalesce(4).write.parquet(f"{work}/in")
            schema = (
                "k long, seq int, op string, embedding array<float>, "
                "label int"
            )
            t0 = time.time()
            ev.cdc_apply_stream(
                spark.readStream.schema(schema).parquet(f"{work}/in"),
                f"{work}/state",
                f"{work}/ck",
            ).awaitTermination()
            print(f"[apply] ops epoch: {time.time() - t0:.1f} s", flush=True)

            def _sync():
                return ev.cdc_index_sync(
                    spark,
                    f"{work}/state",
                    idx,
                    lambda b: sim.ivf_index_upsert(spark, b, idx),
                    lambda ks: sim.ivf_index_delete(spark, ks, idx),
                    payload_cols=("embedding", "label"),
                )
            t0 = time.time()
            nd, nr, ni = _sync()
            print(
                f"[sync] {nd} deleted / {nr} replaced / {ni} inserted: "
                f"{time.time() - t0:.1f} s",
                flush=True,
            )
            t0 = time.time()
            print(
                f"[sync-noop] {_sync()}: {time.time() - t0:.1f} s",
                flush=True,
            )
        else:
            raise SystemExit(f"unknown step {step}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
