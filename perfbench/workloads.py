"""The three workloads. Each is one closed-loop client: a request starts
only after the previous one finished, every request runs under its own
Spark job group, and every result is collected or written before the
clock stops. Why each workload exists is recorded in BENCHMARK.json and
README.md.

A workload has four phases: ``prepare`` (untimed: op streams, DuckDB
answers), ``setup`` (counted in setup_s: warm-up, index and log builds,
first opens), ``loop`` (the timed closed loop, whole passes until the
run's seconds are used) and ``verify`` (untimed correctness checks).
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from contextlib import nullcontext

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import check, gen

# etl_batch's fixed mix, in run order, with the operator group each query
# is reported under: a subset of the registry's relational, dedup, text
# and Python-boundary queries small enough that a cold warm-up pass plus a
# timed pass fit a run of well under a minute. The dedup family keeps its order so the
# shingle and pair tables are built once per pass and shared.
ETL_MIX = [
    ("tpch_q3_shipping_priority", "relational"),
    ("tpch_q18_large_volume", "relational"),
    ("join_inner", "relational"),
    ("agg_rollup", "relational"),
    ("window_sessionize", "relational"),
    ("dedup_exact", "dedup"),
    ("dedup_ngram_jaccard", "dedup"),
    ("dedup_minhash_lsh", "dedup"),
    ("text_quality_gate", "text"),
    ("multimodal_decode", "python_udf"),
    ("pandas_max_gap", "python_udf"),
]

# index_probe's request kinds, sent round-robin, with the per-layer
# metric each kind's median latency is reported under.
PROBES = [
    ("sim_ivf", "similarity.ivf_ms"),
    ("sim_ivfpq_probe", "similarity.ivfpq_ms"),
    ("sim_lsh_index_probe", "similarity.lsh_ms"),
    ("text_bm25_indexed", "text.bm25_indexed_ms"),
    ("text_phrase_search_indexed", "text.phrase_indexed_ms"),
    ("cdc_lookup", "streaming.cdc_lookup_ms"),
]
# index_probe's op log: 512 ops over the 500-key corpus, so most keys
# have a row and the hot ones several versions. The log size and the
# lookup width are assumptions sized to the run budget, not measured
# traffic.
PROBE_LOG_BATCHES = 4  # op batches in index_probe's op log
PROBE_LOG_BATCH_SIZE = 128
LOOKUP_KEYS = 16  # keys per cdc_lookup request

# ops per index_churn epoch: the churn epoch SCALING.md measures
# ("CDC -> index sync at 100x") applies 31,581 ops to a 202k-row index,
# 15.6% of it; the same share of this 500-vector index is 78 ops
CHURN_BATCH_SIZE = 78
COMPACT_EVERY = 1  # op log and IVF index compact on every epoch


class Run:
    """State of one benchmark run: the session, its directories, and
    every request made, with its phase and wall-clock window."""

    def __init__(self, spark, inputs, work, seed, seconds, tracer):
        self.spark, self.inputs, self.work = spark, inputs, work
        self.seed, self.seconds, self.tracer = seed, seconds, tracer
        self.requests: list[dict] = []
        self.failures: list[str] = []
        self.n_checks = 0
        self.windows: list[tuple[float, float]] = []  # timed passes
        self.pass_s: list[float] = []
        self.ops = 0  # work units completed in the timed loop
        self.ops_s = 0.0  # wall seconds those units took
        self.props: dict = {}

    def call(self, phase: str, kind: str, fn, probe: bool = False):
        """Run one request; a failure is recorded and the run goes on."""
        rid = f"{phase}:{len(self.requests)}"
        self.spark.sparkContext.setJobGroup(rid, kind)
        if self.tracer is not None:
            self.tracer.request = rid
        span = (nullcontext() if self.tracer is None
                else self.tracer.span(f"request.{kind}"))
        t0 = time.time()
        try:
            with span:
                out, ok = fn(), True
        except Exception as ex:  # the closed loop must keep running
            out, ok = None, False
            first = (str(ex).splitlines() or [""])[0][:200]
            self.failures.append(f"{kind}: {type(ex).__name__}: {first}")
        self.requests.append({"kind": kind, "phase": phase, "t0": t0,
                              "t1": time.time(), "ok": ok, "probe": probe})
        return out

    def check(self, what: str, problem: str | None) -> None:
        self.n_checks += 1
        if problem:
            self.failures.append(f"check {what}: {problem}")

    def timed(self):
        return [r for r in self.requests if r["phase"] == "timed"]

    def probe_ms(self, kind: str | None = None) -> list[float]:
        return [
            (r["t1"] - r["t0"]) * 1e3 for r in self.timed()
            if r["probe"] and r["ok"] and kind in (None, r["kind"])
        ]


def _rows(df):
    return df.columns, df.collect()


def _du_mb(*dirs: str) -> float:
    total = 0
    for d in dirs:
        for root, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def _part_files(index_dir: str, part_col: str) -> int:
    """Data files in the partition dirs of a local index, counted the way
    ``index_file_stats`` counts them, without its Spark job."""
    return sum(
        1
        for d in os.listdir(index_dir) if d.startswith(f"{part_col}=")
        for f in os.listdir(os.path.join(index_dir, d))
        if not f.startswith(("_", "."))
    )


def _keys_frame(spark, keys):
    # a JVM literal frame: no Python-local relation in the request path
    return spark.sql(
        "SELECT explode(array(" + ",".join(f"{k}L" for k in keys) + ")) AS k"
    )


class EtlBatch:
    """The registry mix, in order, to the noop sink."""

    def __init__(self):
        from bert_etl_spark.operators import registry

        self.registry = registry
        self.answers: dict[str, tuple] = {}
        self.outputs: dict[str, tuple] = {}

    def confs(self, work):
        return {}

    def prepare(self, run):
        con = check.connect(run.inputs)
        for name, _ in ETL_MIX:
            self.answers[name] = check.oracle(con, self.registry.ALL_ORACLES[name])
        con.close()

    def _fresh(self, run):
        # every pass builds the dedup family's shared tables cold
        run.spark.catalog.clearCache()
        self.registry.release_shared_checkpoints()

    def setup(self, run):
        # Warm-up pass on the run's own inputs: it compiles every plan
        # shape of the mix before timing and its collected outputs are
        # what verify checks. A separate small-input warm-up would cost
        # one more driver-bound pass without compiling anything more.
        self._fresh(run)
        for name, _ in ETL_MIX:
            fn = self.registry.ALL_QUERIES[name]
            self.outputs[name] = run.call(
                "setup", name, lambda fn=fn: _rows(fn(run.spark, run.inputs))
            )
            self.registry.release_internals()

    def loop(self, run):
        start = time.time()
        while not run.windows or time.time() - start < run.seconds:
            self._fresh(run)
            t0 = time.time()
            for name, _ in ETL_MIX:
                fn = self.registry.ALL_QUERIES[name]
                run.call(
                    "timed", name,
                    lambda fn=fn: fn(run.spark, run.inputs)
                    .write.format("noop").mode("overwrite").save(),
                    probe=True,
                )
                self.registry.release_internals()
            t1 = time.time()
            run.windows.append((t0, t1))
            run.pass_s.append(t1 - t0)
            run.ops += len(ETL_MIX)
            run.ops_s += t1 - t0

    def verify(self, run):
        for name, _ in ETL_MIX:
            out = self.outputs.get(name)
            if out is not None:
                run.check(name, check.same(*out, *self.answers[name]))

    def disk_mb(self, run):
        # no durable state besides the input tables it scans
        return _du_mb(run.inputs)

    def index_dirs(self, run):
        return []

    def layer(self, run):
        groups: dict[str, float] = {}
        kinds = dict(ETL_MIX)
        for r in run.timed():
            g = kinds[r["kind"]]
            groups[g] = groups.get(g, 0.0) + r["t1"] - r["t0"]
        return {f"operators.{g}_s": t / len(run.windows)
                for g, t in groups.items()}


class IndexProbe:
    """Standing IVF, IVF-PQ, sign-LSH and text indexes plus a CDC op log,
    probed round-robin; read-only in the timed loop."""

    def confs(self, work):
        idx = os.path.join(work, "idx")
        return {
            f"spark.bert_etl.{fam}.indexDir": os.path.join(idx, fam)
            for fam in ("ivf", "ivfpq", "simlsh", "textidx")
        }

    def prepare(self, run):
        self.ops = gen.CdcOps(run.seed, gen.N_VECS, PROBE_LOG_BATCH_SIZE)
        self.src = os.path.join(run.work, "cdc_src")
        os.makedirs(self.src)
        batches = []
        for i in range(PROBE_LOG_BATCHES):
            batches.append(self.ops.next_batch())
            pq.write_table(batches[-1], os.path.join(self.src, f"b{i}.parquet"))
        self.key_sets = [self.ops.zipf_keys(LOOKUP_KEYS) for _ in range(256)]
        con = check.connect(run.inputs)
        self.latest = check.cdc_latest(con, pa.concat_tables(batches))
        from bert_etl_spark.operators import registry

        self.registry = registry
        self.answers = {
            k: check.oracle(con, registry.ALL_ORACLES[k])
            for k, _ in PROBES if k != "cdc_lookup"
        }
        con.close()
        self.state = os.path.join(run.work, "idx", "cdc")
        self.results: dict[str, list] = {k: [] for k, _ in PROBES}
        run.props["cdc_log"] = dict(self.ops.properties(),
                                    batches=PROBE_LOG_BATCHES,
                                    lookup_keys=LOOKUP_KEYS)

    def _request(self, run, phase, kind, n):
        from bert_etl_spark.streaming.events import cdc_lookup

        if kind == "cdc_lookup":
            keys = self.key_sets[n % len(self.key_sets)]
            out = run.call(phase, kind, lambda: _rows(
                cdc_lookup(run.spark, self.state, _keys_frame(run.spark, keys))
                .select(*check.CDC_COLS)), probe=True)
            self.results[kind].append((keys, out))
        else:
            fn = self.registry.ALL_QUERIES[kind]
            out = run.call(phase, kind, lambda: _rows(fn(run.spark, run.inputs)),
                           probe=True)
            self.results[kind].append(out)

    def setup(self, run):
        from bert_etl_spark.streaming.events import cdc_apply_stream

        ckpt = os.path.join(run.work, "ckpt")
        run.call("setup", "cdc_apply_stream", lambda: cdc_apply_stream(
            run.spark.readStream.schema(gen.CdcOps.SCHEMA).parquet(self.src),
            self.state, ckpt).awaitTermination())
        # first call of each kind builds its index and opens it;
        # text_bm25_indexed builds its own session-scoped scratch index,
        # under the run's TMPDIR
        for kind, _ in PROBES:
            self._request(run, "setup", kind, 0)

    def loop(self, run):
        start, n = time.time(), 1
        while not run.windows or time.time() - start < run.seconds:
            t0 = time.time()
            for kind, _ in PROBES:
                self._request(run, "timed", kind, n)
            n += 1
            t1 = time.time()
            run.windows.append((t0, t1))
            run.pass_s.append(t1 - t0)
        run.ops = len(run.probe_ms())
        run.ops_s = sum(b - a for a, b in run.windows)

    def verify(self, run):
        for kind, _ in PROBES:
            outs = self.results[kind]
            if kind == "cdc_lookup":
                for keys, out in outs:
                    if out is None:
                        continue
                    want = [self.latest[k] for k in keys if k in self.latest]
                    run.check(kind, check.same(*out, check.CDC_COLS, want))
                continue
            done = [o for o in outs if o is not None]
            if done:
                run.check(kind, check.same(*done[0], *self.answers[kind]))
                first = check.digest(*done[0])
                run.check(f"{kind} repeatable",
                          None if all(check.digest(*o) == first for o in done)
                          else "repeated probes differ")

    def disk_mb(self, run):
        return _du_mb(os.path.join(run.work, "idx"))

    def index_dirs(self, run):
        c = self.confs(run.work)
        return [(c["spark.bert_etl.ivf.indexDir"], "cell"),
                (c["spark.bert_etl.ivfpq.indexDir"], "cell"),
                (c["spark.bert_etl.simlsh.indexDir"], "bucket"),
                (c["spark.bert_etl.textidx.indexDir"], "bucket"),
                (self.state, "bkt")] + [
            (d, "bucket") for d in glob.glob(
                os.path.join(run.work, "idx", "tmp", "textidx_demo_scratch_*"))
        ]

    def layer(self, run):
        return {metric: statistics.median(run.probe_ms(kind) or [0.0])
                for kind, metric in PROBES}


class IndexChurn:
    """Op batches land, are applied to the op log and synced into the IVF
    index; the churned index is read before the epoch's scheduled
    compaction folds the debt the sync left behind."""

    def confs(self, work):
        return {"spark.bert_etl.ivf.indexDir": os.path.join(work, "idx", "ivf")}

    def prepare(self, run):
        self.ops = gen.CdcOps(run.seed, gen.N_VECS, CHURN_BATCH_SIZE)
        self.idx = self.confs(run.work)["spark.bert_etl.ivf.indexDir"]
        self.state = os.path.join(run.work, "idx", "cdc")
        self.src = os.path.join(run.work, "cdc_src")
        self.ckpt = os.path.join(run.work, "ckpt")
        os.makedirs(self.src)
        self.applied: list = []
        self.reads: list = []  # (batches applied, keys, lookup, sim_ivf)
        self.debt: list[tuple] = []  # (data files, tombstone bytes) at reads
        self.epoch = 0
        run.props["churn"] = dict(self.ops.properties(),
                                  compact_every=COMPACT_EVERY)

    def _epoch(self, run, phase):
        """One epoch; returns its write seconds (landing to converged,
        plus the compaction) and its wall-clock window."""
        from bert_etl_spark.operators.index_lifecycle import (
            compaction_due,
            pending_tombstone_bytes,
        )
        from bert_etl_spark.operators.registry import ALL_QUERIES
        from bert_etl_spark.operators.similarity import (
            ivf_index_compact,
            ivf_index_upsert_delete,
        )
        from bert_etl_spark.streaming.events import (
            cdc_apply_stream,
            cdc_index_sync,
            cdc_lookup,
        )

        spark, e = run.spark, self.epoch
        batch = self.ops.next_batch()
        pq.write_table(batch, os.path.join(self.src, f"b{e:05d}.parquet"))
        self.applied.append(batch)
        t0 = time.time()  # the batch has landed
        run.call(phase, "cdc_apply_stream", lambda: cdc_apply_stream(
            spark.readStream.schema(gen.CdcOps.SCHEMA).parquet(self.src),
            self.state, self.ckpt, compact_every=COMPACT_EVERY,
        ).awaitTermination())
        run.call(phase, "cdc_index_sync", lambda: cdc_index_sync(
            spark, self.state, self.idx, None, None,
            payload_cols=("embedding", "label"),
            upsert_delete=lambda b, ks: ivf_index_upsert_delete(
                spark, b, ks, self.idx),
        ))
        t1 = time.time()  # the index has converged, debt not yet folded
        keys = sorted(batch.column("k").to_pylist())
        lookup = run.call(phase, "cdc_lookup", lambda: _rows(
            cdc_lookup(spark, self.state, _keys_frame(spark, keys))
            .select(*check.CDC_COLS)), probe=True)
        ivf = run.call(phase, "sim_ivf", lambda: _rows(
            ALL_QUERIES["sim_ivf"](spark, run.inputs)), probe=True)
        self.reads.append((len(self.applied), keys, lookup, ivf))
        if run.tracer is not None and phase == "timed":
            run.tracer.request = "stats"  # FS listings, no Spark job
            self.debt.append((
                sum(_part_files(d, part) for d, part in self.index_dirs(run)),
                pending_tombstone_bytes(spark, self.idx),
            ))
        t2 = time.time()
        if compaction_due(spark, self.idx, e, COMPACT_EVERY):
            run.call(phase, "ivf_index_compact",
                     lambda: ivf_index_compact(spark, self.idx))
        t3 = time.time()
        self.epoch += 1
        return (t1 - t0) + (t3 - t2), (t0, t3)

    def setup(self, run):
        from bert_etl_spark.operators.registry import ALL_QUERIES

        # builds the IVF index and opens it
        run.call("setup", "sim_ivf",
                 lambda: ALL_QUERIES["sim_ivf"](run.spark, run.inputs).collect())
        # one epoch: creates the op log and compiles an epoch's plans,
        # the compaction's included
        self._epoch(run, "setup")

    def loop(self, run):
        start = time.time()
        while not run.windows or time.time() - start < run.seconds:
            write_s, window = self._epoch(run, "timed")
            run.windows.append(window)
            run.pass_s.append(write_s)
            run.ops += CHURN_BATCH_SIZE
            run.ops_s += write_s

    def verify(self, run):
        from bert_etl_spark.operators.index_lifecycle import (
            apply_tombstones,
            read_with_cached_schema,
        )
        from bert_etl_spark.streaming.events import latest_cdc_state

        con = check.connect(run.inputs)
        for n, keys, lookup, ivf in self.reads:
            latest = check.cdc_latest(con, pa.concat_tables(self.applied[:n]))
            if lookup is not None:
                want = [latest[k] for k in keys if k in latest]
                run.check("cdc_lookup", check.same(*lookup, check.CDC_COLS, want))
            if ivf is not None:
                run.check("churned sim_ivf",
                          check.same(*ivf, *check.ivf_after_ops(con, latest)))
        latest = check.cdc_latest(con, pa.concat_tables(self.applied))
        con.close()
        spark = run.spark
        state = _rows(latest_cdc_state(spark, self.state).select(*check.CDC_COLS))
        run.check("latest_cdc_state",
                  check.same(*state, check.CDC_COLS, list(latest.values())))
        live = sorted(
            r[0] for r in apply_tombstones(
                spark, self.idx,
                read_with_cached_schema(spark, self.idx, [self.idx],
                                        base_path=self.idx),
            ).select("vec_id").collect()
        )
        want = sorted(
            (set(range(gen.N_VECS)) | {k for k, r in latest.items() if r[2] == "U"})
            - {k for k, r in latest.items() if r[2] == "D"}
        )
        run.check("ivf live keys",
                  None if live == want
                  else f"{len(live)} live vec_ids vs {len(want)} expected")

    def disk_mb(self, run):
        return _du_mb(os.path.join(run.work, "idx"))

    def index_dirs(self, run):
        return [(self.idx, "cell"), (self.state, "bkt")]

    def layer(self, run):
        return {"similarity.ivf_ms": statistics.median(
                    run.probe_ms("sim_ivf") or [0.0]),
                "streaming.cdc_lookup_ms": statistics.median(
                    run.probe_ms("cdc_lookup") or [0.0]),
                # the state the timed reads saw, before compaction
                "index.files": statistics.median(f for f, _ in self.debt),
                "index.tombstone_bytes": statistics.median(
                    b for _, b in self.debt)}


WORKLOADS = {
    "etl_batch": EtlBatch,
    "index_probe": IndexProbe,
    "index_churn": IndexChurn,
}
