"""Cross-family invariants of the six durable index families.

Each test here is parametrized over the families (IVF, IVF-PQ, sign-LSH,
MaxSim, text postings, graph edges) — and, for the rewrite commit, over
every full-table rewrite verb — instead of one copy per family:

- every write verb of a warm index stays within the Spark job count it
  had before the verbs became generic;
- a standalone compact or delete (or graph ingest) called inside a
  crashed rewrite's sentinel window finishes the swap;
- every rewrite verb, killed before its sentinel or inside its swap,
  leaves either the old index or the completed rewrite, and a due CDC
  apply epoch so killed converges when its query restarts;
- a sign-LSH index migrated to a new plane count keeps every write verb.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from bert_etl_spark.functions import markers as mk
from bert_etl_spark.operators import advanced as adv
from bert_etl_spark.operators import index_lifecycle as life
from bert_etl_spark.operators import registry
from bert_etl_spark.operators import similarity as sim
from bert_etl_spark.operators import text as tx
from bert_etl_spark.streaming import events as ev

registry.load_all()

SF = "/root/testdata/sf0.001"

# family -> (marker, partition column, key)
FAMILIES = {
    "ivf": (sim._IVF_MARKER, "cell", "vec_id"),
    "ivfpq": (sim._IVFPQ_MARKER, "cell", "vec_id"),
    "simlsh": (sim._SIMLSH_MARKER, "bucket", "vec_id"),
    "maxsim": (sim._MAXSIM_MARKER, "cell", "vec_id"),
    "text": (tx._TEXTIDX_MARKER, "bucket", "doc_id"),
    "graph": (adv._EDGE_MARKER, "ebkt", "pkey"),
}


def _with_conf(spark, conf, value, fn):
    spark.conf.set(conf, value)
    try:
        return fn()
    finally:
        spark.conf.unset(conf)


def _build(spark, family: str, d: str) -> None:
    if family == "ivf":
        sim._ivf_assign(spark, SF, index_dir=d)
    elif family == "ivfpq":
        sim.ivfpq_build_or_open(spark, SF, d)
    elif family == "simlsh":
        _with_conf(spark, sim.SIMLSH_INDEX_DIR_CONF, d,
                   lambda: sim._lsh_bucket_table(spark, SF))
    elif family == "maxsim":
        _with_conf(spark, sim.MAXSIM_INDEX_DIR_CONF, d,
                   lambda: sim._maxsim_assign(spark, SF))
    elif family == "text":
        tx._textidx_open_or_build(spark, SF, d)
    else:
        adv.graph_edges_build_or_open(spark, SF, d)


@pytest.fixture(scope="module")
def pristine(spark, tmp_path_factory):
    """``pristine(family)``: a fresh copy of a standing index of the
    family, built once per module and copied per test."""
    root = tmp_path_factory.mktemp("pristine")
    built: dict[str, str] = {}

    def copy(family: str, dst: str) -> str:
        if family not in built:
            built[family] = str(root / family)
            _build(spark, family, built[family])
        shutil.copytree(built[family], dst)
        return dst

    return copy


# --- deterministic batches: round ``i`` (0 = warm-up, 1 = measured) uses
# --- key ranges disjoint from every other round and verb


def _emb(spark):
    return registry.tbl(spark, SF, "embeddings")


def _new_vectors(spark, i):
    return _emb(spark).filter(F.col("vec_id") % 50 == i).select(
        (F.col("vec_id") + 5_000_000 * (i + 1)).alias("vec_id"), "embedding"
    )


def _changed_vectors(spark, i):
    lo = 100 + 10 * i
    return _emb(spark).filter(
        (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 10)
    ).select("vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))


def _vec_keys(spark, lo, i):
    return spark.range(lo + 10 * i, lo + 10 * i + 10).select(
        F.col("id").alias("vec_id")
    )


def _docs(spark):
    return registry.tbl(spark, SF, "documents").select("doc_id", "text")


def _new_docs(spark, i):
    return _docs(spark).filter(F.col("doc_id") % 50 == i).select(
        (F.col("doc_id") + 9_000_000 * (i + 1)).alias("doc_id"), "text"
    )


def _changed_docs(spark, i):
    lo = 100 + 10 * i
    return _docs(spark).filter(
        (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 10)
    ).select("doc_id", F.concat("text", F.lit(" upsert rewrite")).alias("text"))


def _doc_keys(spark, lo, i):
    return spark.range(lo + 10 * i, lo + 10 * i + 10).select(
        F.col("id").alias("doc_id")
    )


def _new_edges(spark, i):
    base = 10_000_000 * (i + 1)
    return spark.range(10).select(
        (F.col("id") * 2 + base).alias("u"), (F.col("id") * 2 + base + 1).alias("v")
    )


def _edge_keys(spark, d, lo, i):
    """Ten live edge keys, picked on the driver before the verb."""
    live = [k for k, _ in _state(spark, "graph", d)["rows"]]
    keys = live[lo + 10 * i: lo + 10 * i + 10]
    return spark.createDataFrame([(k,) for k in keys], "pkey string")


# vector family -> prefix of its public verbs in similarity
_VEC = {f: f"{f}_index" for f in ("ivf", "ivfpq", "simlsh", "maxsim")}


def _verb(family: str, verb: str):
    """``(prepare, run)`` for one (family, verb) pair: ``prepare(spark,
    d, i)`` builds round ``i``'s batch outside the measured region;
    ``run(spark, d, batch)`` is the verb."""
    if family in _VEC:
        prefix = _VEC[family]
        fn = getattr(sim, f"{prefix}_{verb}")
        if verb == "ingest":
            return (lambda s, d, i: _new_vectors(s, i),
                    lambda s, d, b: fn(s, b, d))
        if verb == "upsert":
            return (lambda s, d, i: _changed_vectors(s, i),
                    lambda s, d, b: fn(s, b, d))
        if verb == "upsert_delete":
            return (lambda s, d, i: (_changed_vectors(s, i), _vec_keys(s, 200, i)),
                    lambda s, d, b: fn(s, b[0], b[1], d))
        if verb == "delete":
            return (lambda s, d, i: _vec_keys(s, 300, i),
                    lambda s, d, b: fn(s, b, d))
        delete = getattr(sim, f"{prefix}_delete")
        return (lambda s, d, i: delete(s, _vec_keys(s, 400, i), d),
                lambda s, d, b: fn(s, d))
    if family == "text":
        fn = {
            "ingest": tx.textidx_ingest,
            "upsert": tx.textidx_upsert,
            "delete": tx.textidx_delete,
            "compact": tx.textidx_compact,
        }[verb]
        if verb == "ingest":
            return (lambda s, d, i: _new_docs(s, i), lambda s, d, b: fn(s, b, d))
        if verb == "upsert":
            return (lambda s, d, i: _changed_docs(s, i),
                    lambda s, d, b: fn(s, b, d))
        if verb == "delete":
            return (lambda s, d, i: _doc_keys(s, 300, i),
                    lambda s, d, b: fn(s, b, d))
        return (lambda s, d, i: tx.textidx_delete(s, _doc_keys(s, 400, i), d),
                lambda s, d, b: fn(s, d))
    fn = {
        "ingest": adv.graph_edges_ingest,
        "delete": adv.graph_edges_delete,
        "compact": adv.graph_edges_compact,
    }[verb]
    if verb == "ingest":
        return (lambda s, d, i: _new_edges(s, i), lambda s, d, b: fn(s, b, d))
    if verb == "delete":
        return (lambda s, d, i: _edge_keys(s, d, 0, i),
                lambda s, d, b: fn(s, b, d))
    return (lambda s, d, i: adv.graph_edges_delete(s, _edge_keys(s, d, 40, i), d),
            lambda s, d, b: fn(s, d))


# Spark jobs of one warm write-verb call (statusTracker, sf0.001, local[4],
# 4 shuffle partitions), measured on the per-family verbs the generic ones
# replaced; the generic verbs must start no job more.
WRITE_JOB_BUDGET = {
    ("ivf", "ingest"): 6,
    ("ivf", "upsert"): 10,
    ("ivf", "upsert_delete"): 10,
    ("ivf", "delete"): 6,
    ("ivf", "compact"): 4,
    ("ivfpq", "ingest"): 6,
    ("ivfpq", "upsert"): 10,
    ("ivfpq", "delete"): 6,
    ("ivfpq", "compact"): 4,
    ("simlsh", "ingest"): 6,
    ("simlsh", "upsert"): 10,
    ("simlsh", "delete"): 6,
    ("simlsh", "compact"): 4,
    ("maxsim", "ingest"): 6,
    ("maxsim", "upsert"): 10,
    ("maxsim", "delete"): 6,
    ("maxsim", "compact"): 4,
    ("text", "ingest"): 10,
    ("text", "upsert"): 13,
    ("text", "delete"): 6,
    ("text", "compact"): 4,
    ("graph", "ingest"): 6,
    ("graph", "delete"): 8,
    ("graph", "compact"): 4,
}


@pytest.mark.parametrize(
    "family,verb,max_jobs",
    [(f, v, n) for (f, v), n in WRITE_JOB_BUDGET.items()],
)
def test_warm_verb_job_budget(spark, tmp_path, pristine, family, verb, max_jobs):
    """A write verb on a warm index runs within its job budget: the same
    verb runs once on a warm-up batch (memos, schema inference), then the
    measured call runs on a disjoint batch of the same shape."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    d = pristine(family, str(tmp_path / "idx"))
    prepare, run = _verb(family, verb)
    run(spark, d, prepare(spark, d, 0))
    batch = prepare(spark, d, 1)
    group = f"{family}-{verb}-{tmp_path.name}"
    sc.setJobGroup(group, verb)
    try:
        run(spark, d, batch)
        bus.waitUntilEmpty()
        jobs = len(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs <= max_jobs, jobs


# --- sign-LSH at a migrated plane count --------------------------------


def _sign_bucket(vec, planes) -> int:
    return sum(
        1 << p
        for p, plane in enumerate(planes)
        if sum(float(a) * float(b) for a, b in zip(vec, plane)) > 0
    )


def test_simlsh_verbs_at_migrated_plane_count(spark, tmp_path, pristine):
    """After simlsh_index_rebuild(…, 6) every write verb runs at the
    stamped plane count: ingest, upsert, delete (bare keys and a feed
    carrying its bucket) and compact succeed, new rows land in their
    planes_for(6) bucket and the live rows equal a Python oracle; the
    probe, whose oracle hashes with N_PLANES, keeps refusing."""
    d = pristine("simlsh", str(tmp_path / "lsh"))
    planes = sim.planes_for(6)
    assert sim.simlsh_index_rebuild(spark, d, 6) == 500
    vecs = {r.vec_id: list(r.embedding) for r in _emb(spark).collect()}
    new = {r.vec_id: list(r.embedding) for r in _new_vectors(spark, 0).collect()}
    changed = {
        r.vec_id: list(r.embedding) for r in _changed_vectors(spark, 0).collect()
    }
    assert sim.simlsh_index_ingest(spark, _new_vectors(spark, 0), d) == len(new)
    assert sim.simlsh_index_upsert(spark, _changed_vectors(spark, 0), d) == (
        len(changed), 0,
    )
    assert sim.simlsh_index_delete(spark, _vec_keys(spark, 300, 0), d) == 10
    fed = spark.createDataFrame(
        [(k, _sign_bucket(vecs[k], planes)) for k in range(310, 320)],
        "vec_id long, bucket int",
    )
    assert sim.simlsh_index_delete(spark, fed, d) == 10
    assert sim.simlsh_index_compact(spark, d) == 500 + len(new) - 20
    assert mk.read_int_marker(spark, f"{d}/{sim._SIMLSH_MARKER}") == 6
    vecs.update(new)
    vecs.update(changed)
    want = sorted(
        (k, _sign_bucket(v, planes))
        for k, v in vecs.items()
        if not 300 <= k < 320
    )
    got = sorted(
        (r.vec_id, r.bucket)
        for r in spark.read.option("basePath", d).parquet(d)
        .select("vec_id", "bucket").collect()
    )
    assert got == want
    spark.conf.set(sim.SIMLSH_INDEX_DIR_CONF, d)
    try:
        with pytest.raises(ValueError, match="plane"):
            registry.ALL_QUERIES["sim_lsh_index_probe"](spark, SF)
    finally:
        spark.conf.unset(sim.SIMLSH_INDEX_DIR_CONF)


# --- crash windows of the rewrite commit --------------------------------


def _cdc_state(spark, d: str) -> None:
    """A CDC op log with superseded updates and deletes to fold."""
    rows = (
        [(k, 0, "U", float(k)) for k in range(100)]
        + [(k, 1, "U", k + 0.5) for k in range(20)]
        + [(k, 1, "D", None) for k in range(20, 30)]
    )
    src = f"{d}_in"
    schema = "k long, seq int, op string, price double"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    ev.cdc_apply_stream(
        spark.readStream.schema(schema).parquet(src), d, f"{d}_ck",
        n_buckets=4,
    ).awaitTermination()


def _mutate(spark, family: str, d: str) -> None:
    """Pending tombstones (covering every quantizer training seed) plus
    an ingest, so every rewrite verb has work: deletes to apply,
    quantizers to retrain, stats to refresh."""
    if family in _VEC:
        prefix = _VEC[family]
        getattr(sim, f"{prefix}_delete")(
            spark, spark.range(64).select(F.col("id").alias("vec_id")), d
        )
        getattr(sim, f"{prefix}_ingest")(spark, _new_vectors(spark, 0), d)
    elif family == "text":
        tx.textidx_delete(
            spark, spark.range(64).select(F.col("id").alias("doc_id")), d
        )
        tx.textidx_ingest(spark, _new_docs(spark, 0), d)
    elif family == "graph":
        adv.graph_edges_delete(spark, _edge_keys(spark, d, 0, 0), d)
        adv.graph_edges_ingest(spark, _new_edges(spark, 0), d)


def _mutated(spark, pristine, family: str, d: str) -> str:
    if family == "cdc":
        _cdc_state(spark, d)
    else:
        pristine(family, d)
        _mutate(spark, family, d)
    return d


def _read(spark, d: str):
    return spark.read.option("basePath", d).parquet(d)


def _state(spark, family: str, d: str) -> dict:
    """What a reader of ``d`` sees, recovery NOT triggered: the stamped
    layout, the live (key, partition) rows, the index-owned artifacts
    and, for IVF-PQ, the probe's answer."""
    if family == "cdc":
        return {
            "layout": mk.read_int_marker(spark, f"{d}/{ev.CDC_MARKER}"),
            "rows": sorted(
                tuple(r) for r in ev._cdc_argmax(_read(spark, d))
                .select("k", "seq", "op", "price").collect()
            ),
        }
    marker, part, key = FAMILIES[family]
    live = _read(spark, d).select(key, part)
    tombstones = glob.glob(f"{d}/{life.TOMBSTONE_DIR}/*.parquet")
    if tombstones:
        ts = spark.read.parquet(*tombstones)
        live = live.join(ts.select(key), key, "left_anti")
    out = {
        "layout": mk.read_int_marker(spark, f"{d}/{marker}"),
        "rows": sorted(tuple(r) for r in live.collect()),
    }
    for art in ("_codebook", sim._PQ_CODEBOOK_DIR, tx._STATS_DIR):
        if os.path.exists(f"{d}/{art}"):
            out[art] = sorted(
                repr(tuple(r)) for r in spark.read.parquet(f"{d}/{art}").collect()
            )
    if family == "ivfpq":
        out["probe"] = sorted(
            tuple(r) for r in sim._ivfpq_topk(spark, SF, d)
            .select("q_id", "neighbor_id", "adc_dot", "rn").collect()
        )
    return out


def _assert_partitioned(spark, family: str, d: str) -> None:
    """Every row sits in the partition its family assigns under the
    stamped layout and the index's own quantizer."""
    if family in ("ivf", "maxsim"):
        want = F.expr(sim._argmax_cell(sim.read_codebook(spark, d))).cast("int")
        part = "cell"
    elif family == "simlsh":
        planes = sim.planes_for(mk.read_int_marker(spark, f"{d}/_n_planes"))
        want = F.expr(sim.sign_bucket("e", planes)).cast("int")
        part = "bucket"
    elif family == "cdc":
        nb = mk.read_int_marker(spark, f"{d}/{ev.CDC_MARKER}")
        want, part = ev._cdc_bucket(nb), "bkt"
    else:
        return
    assert _read(spark, d).filter(F.col(part) != want).count() == 0


def _ivfpq_retrain(spark, d):
    vectors = _emb(spark).select("vec_id", "embedding").unionByName(
        _new_vectors(spark, 0)
    )
    return sim.ivfpq_index_rebuild(spark, d, vectors)


# rewrite verb -> (family, call, stages artifacts that must change)
REWRITES = {
    "ivf_compact": ("ivf", sim.ivf_index_compact, False),
    "ivfpq_compact": ("ivfpq", sim.ivfpq_index_compact, False),
    "simlsh_compact": ("simlsh", sim.simlsh_index_compact, False),
    "maxsim_compact": ("maxsim", sim.maxsim_index_compact, False),
    "text_compact": ("text", tx.textidx_compact, False),
    "graph_compact": ("graph", adv.graph_edges_compact, False),
    "simlsh_migrate": (
        "simlsh", lambda s, d: sim.simlsh_index_rebuild(s, d, 6), False,
    ),
    "ivfpq_retrain": ("ivfpq", _ivfpq_retrain, True),
    "ivf_retrain": ("ivf", sim.ivf_index_rebuild, True),
    "maxsim_retrain": ("maxsim", sim.maxsim_index_rebuild, True),
    "text_refresh_compact": (
        "text", lambda s, d: tx.textidx_compact(s, d, refresh_stats=True),
        True,
    ),
    "cdc_compact_state": ("cdc", ev.cdc_compact_state, False),
    "cdc_rebucket": ("cdc", lambda s, d: ev.cdc_rebucket(s, d, 8), False),
}


def _crash(monkeypatch, kill: str) -> None:
    def boom(*a, **kw):
        raise RuntimeError(f"simulated crash {kill}")

    if kill == "mid_swap":
        monkeypatch.setattr(life, "finish_compaction_swap", boom)
        return
    real = mk.write_int_marker

    def before_sentinel(spark_, path, value):
        if path.endswith(life.PENDING_SENTINEL):
            boom()
        return real(spark_, path, value)

    monkeypatch.setattr(mk, "write_int_marker", before_sentinel)


@pytest.fixture(scope="module")
def completed(spark, tmp_path_factory, pristine):
    """``completed(rewrite)``: (state before, returned count, state after)
    of the rewrite verb run to completion on a freshly mutated index."""
    root = tmp_path_factory.mktemp("completed")
    done: dict[str, tuple] = {}

    def get(rewrite: str) -> tuple:
        if rewrite not in done:
            family, call, _ = REWRITES[rewrite]
            d = _mutated(spark, pristine, family, str(root / rewrite))
            before = _state(spark, family, d)
            n = call(spark, d)
            done[rewrite] = (before, n, _state(spark, family, d))
        return done[rewrite]

    return get


@pytest.mark.parametrize("kill", ["before_sentinel", "mid_swap"])
@pytest.mark.parametrize("rewrite", list(REWRITES))
def test_rewrite_commit_crash_matrix(
    spark, tmp_path, pristine, completed, monkeypatch, rewrite, kill
):
    """Every full-table rewrite commits through one function, and a kill
    at either side of its commit point is safe. Killed before the
    sentinel: the old index is untouched (old marker, old rows and
    artifacts), the next open clears the partial tmp table, and a re-run
    completes. Killed inside the swap: the sentinel carries the new
    layout and the marker is gone; the next open finishes the swap, and
    data, marker and staged artifacts (codebooks, collection stats) land
    exactly as in an uncrashed run, every row in its assigned
    partition."""
    family, call, restages = REWRITES[rewrite]
    before, n_done, want = completed(rewrite)
    if restages:
        assert {k: v for k, v in want.items() if k.startswith("_")} != {
            k: v for k, v in before.items() if k.startswith("_")
        }
    d = _mutated(spark, pristine, family, str(tmp_path / "idx"))
    marker = ev.CDC_MARKER if family == "cdc" else FAMILIES[family][0]
    part = "bkt" if family == "cdc" else FAMILIES[family][1]
    assert _state(spark, family, d) == before
    with monkeypatch.context() as m:
        _crash(m, kill)
        with pytest.raises(RuntimeError, match="simulated crash"):
            call(spark, d)
    tmp = f"{d}{life.TMP_SUFFIX}"
    sentinel = mk.read_int_marker(spark, f"{d}/{life.PENDING_SENTINEL}")
    if kill == "before_sentinel":
        assert os.path.exists(tmp) and sentinel is None
        assert _state(spark, family, d) == before
        assert life.open_index(spark, d, marker, part) == before["layout"]
        assert not os.path.exists(tmp)
        assert _state(spark, family, d) == before
        assert call(spark, d) == n_done
    else:
        assert sentinel == want["layout"]
        assert mk.read_int_marker(spark, f"{d}/{marker}") is None
        assert life.open_index(spark, d, marker, part) == want["layout"]
        assert not os.path.exists(tmp)
    assert not os.path.exists(f"{d}/{life.PENDING_SENTINEL}")
    assert _state(spark, family, d) == want
    assert len(want["rows"]) == n_done
    _assert_partitioned(spark, family, d)


def _cdc_due_epoch(spark, d: str) -> None:
    """One apply epoch of a batch that updates, deletes and inserts keys
    of ``_cdc_state`` (due under ``compact_every=1``), on a fixed
    checkpoint: a restart replays it."""
    src = f"{d}_in2"
    schema = "k long, seq int, op string, price double"
    if not os.path.exists(src):
        rows = (
            [(k, 2, "U", k + 0.25) for k in range(0, 100, 7)]
            + [(k, 2, "D", None) for k in range(50, 60)]
            + [(k, 2, "U", 1.0) for k in range(500, 510)]
        )
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    ev.cdc_apply_stream(
        spark.readStream.schema(schema).parquet(src), d, f"{d}_ck2",
        n_buckets=4, compact_every=1,
    ).awaitTermination()


@pytest.mark.parametrize("kill", ["before_sentinel", "mid_swap"])
def test_cdc_due_epoch_crash_recovers(spark, tmp_path, monkeypatch, kill):
    """A due CDC apply epoch commits its one rewrite through the same
    sentinel swap. Killed before the sentinel or inside the swap, a
    restart on the same query checkpoint replays the epoch and lands
    the uncrashed end state: the same log rows, each op exactly once,
    every row in its bucket, no sentinel or tmp left."""
    ref = str(tmp_path / "ref")
    _cdc_state(spark, ref)
    _cdc_due_epoch(spark, ref)
    want = _state(spark, "cdc", ref)
    want_log = sorted(tuple(r) for r in _read(spark, ref).collect())
    d = str(tmp_path / "cdc")
    _cdc_state(spark, d)
    with monkeypatch.context() as m:
        _crash(m, kill)
        with pytest.raises(Exception, match="simulated crash"):
            _cdc_due_epoch(spark, d)
    _cdc_due_epoch(spark, d)
    assert not os.path.exists(f"{d}/{life.PENDING_SENTINEL}")
    assert not os.path.exists(f"{d}{life.TMP_SUFFIX}")
    assert _state(spark, "cdc", d) == want
    log = sorted(tuple(r) for r in _read(spark, d).collect())
    assert log == want_log
    opkeys = [r.opkey for r in _read(spark, d).select("opkey").collect()]
    assert len(opkeys) == len(set(opkeys))
    _assert_partitioned(spark, "cdc", d)


# --- standalone verbs inside a crashed compact's sentinel window --------


def _call(spark, family: str, verb: str, d: str):
    prepare, run = _verb(family, verb)
    return run(spark, d, prepare(spark, d, 1))


@pytest.mark.parametrize("verb", ["compact", "delete", "ingest"])
@pytest.mark.parametrize("family", list(FAMILIES))
def test_verb_recovers_crashed_compact(
    spark, tmp_path, pristine, monkeypatch, family, verb
):
    """A compact killed inside finish_compaction_swap leaves the marker
    deleted and the sentinel stamped. The family's compact, delete or
    ingest, called directly next, finishes the swap through open_index
    and lands the same end state as the same call after an uncrashed
    compact."""
    compact = REWRITES[f"{family}_compact"][1]
    ref = _mutated(spark, pristine, family, str(tmp_path / "ref"))
    compact(spark, ref)
    _call(spark, family, verb, ref)
    d = _mutated(spark, pristine, family, str(tmp_path / "idx"))
    with monkeypatch.context() as m:
        _crash(m, "mid_swap")
        with pytest.raises(RuntimeError, match="simulated crash"):
            compact(spark, d)
    assert mk.read_int_marker(spark, f"{d}/{FAMILIES[family][0]}") is None
    _call(spark, family, verb, d)
    assert not os.path.exists(f"{d}/{life.PENDING_SENTINEL}")
    assert not os.path.exists(f"{d}{life.TMP_SUFFIX}")
    assert _state(spark, family, d) == _state(spark, family, ref)
