"""Seeded input generator for the benchmark workloads.

Every table keeps the FIXTURES.md schema and key domains (so the registry
queries' fixed query sets, such as ``vec_id < 5`` or the first eight
centroid vectors, still have rows); the seed decides the content: which
attributes sit under which key, the token soup of each document, the
embedding vectors and the CDC op stream. Same seed, same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Star schema and events at the FIXTURES sf0.01 sizes; documents and
# embeddings keep their 500-row floor. Larger inputs would not fit a run
# of well under a minute: at this size one etl_batch pass already takes
# about 10 s on 4 CPUs, most of it per-query driver work.
SCALE = 0.01
N_DOCS = 500
N_VECS = 500
EMB_DIM = 64
N_LABELS = 10

VOCAB = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter key agg scan slow table part merge window "
    "order column join vector"
).split()
NEAR_DUP_SHARE = 0.05  # docs that repeat an earlier doc plus " dup"
LANGS = ["en", "zh", "de", "fr", "es"]
N_SOURCES = 20
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold",
         "shiny", "tiny", "dark", "bright", "heavy"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut",
          "spring", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

# CDC op stream: Zipf-skewed keys, one op per key per batch (seq = batch
# number), fixed op mix. Inserted keys start far above the corpus domain.
# The mix is the churn epoch SCALING.md measures ("CDC -> index sync at
# 100x"): equal thirds of re-embeds, inserts and deletes. The skew is an
# assumption, not a measurement: no trace of this engine's key access is
# available, and s = 1.1 is a moderate skew that makes hot keys churn
# repeatedly while most keys stay cold.
CDC_MIX = {"update": 1 / 3, "insert": 1 / 3, "delete": 1 / 3}
CDC_ZIPF_S = 1.1
CDC_INSERT_BASE = 1_000_000


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + (rng.integers(0, span + 1, n) * 86_400_000_000).astype(
        "timedelta64[us]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def unit_vectors(rng, n: int) -> np.ndarray:
    v = rng.standard_normal((n, EMB_DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _emb_array(vecs: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.reshape(-1), pa.float32()), EMB_DIM
    ).cast(pa.list_(pa.float32()))


def star_tables(rng) -> dict[str, pa.Table]:
    n_cust = int(150_000 * SCALE)
    n_supp = int(10_000 * SCALE)
    n_part = int(200_000 * SCALE)
    n_ord = int(1_500_000 * SCALE)
    n_li = int(6_000_000 * SCALE)
    i32, i64 = pa.int32(), pa.int64()
    region = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        # five nations per region, which nation sits in which region is seeded
        "n_regionkey": pa.array(rng.permutation(np.arange(25) % 5), i32),
    })
    customer = pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part = pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + rng.permutation(n_part) % 1000 * 0.1, 2),
    })
    orders = pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def events_table(rng) -> pa.Table:
    n = int(1_000_000 * SCALE)
    n_users = int(15_000 * SCALE)
    month_us = 30 * 86_400_000_000
    gaps = rng.exponential(month_us / n, n)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents_table(rng) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": _emb_array(unit_vectors(rng, N_VECS)),
        "label": pa.array(rng.integers(0, N_LABELS, N_VECS), pa.int32()),
    })


TABLES_BY_WORKLOAD = {
    "etl_batch": ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"),
    "index_probe": ("documents", "embeddings"),
    "index_churn": ("embeddings",),
}


def write_tables(seed: int, out_dir: str, workload: str) -> dict:
    """Write the workload's tables as ``<out_dir>/<name>.parquet`` and
    return their properties (rows, MB) keyed by table name."""
    rng = np.random.default_rng(seed)
    tables = dict(star_tables(rng))
    tables["events"] = events_table(rng)
    tables["documents"] = documents_table(rng)
    tables["embeddings"] = embeddings_table(rng)
    os.makedirs(out_dir, exist_ok=True)
    props = {}
    for name in TABLES_BY_WORKLOAD[workload]:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path)
        props[name] = {
            "rows": tables[name].num_rows,
            "mb": round(os.path.getsize(path) / 1e6, 3),
        }
    return props


class CdcOps:
    """The seeded CDC op stream over a corpus of ``n_keys`` keys: batch
    ``seq`` holds ``batch_size`` ops on distinct keys. Updates and deletes
    pick live keys by a Zipf law over a seeded key ranking (hot keys
    churn most); inserts take fresh keys; a deleted key may come back
    through a later update (a resurrection)."""

    SCHEMA = "k long, seq int, op string, embedding array<float>, label int"

    def __init__(self, seed: int, n_keys: int, batch_size: int):
        self.rng = np.random.default_rng([seed, 7])
        self.batch_size = batch_size
        self.keys = self.rng.permutation(n_keys).astype(np.int64)  # by heat
        self.next_insert = CDC_INSERT_BASE
        self.seq = 0

    def _zipf_pick(self, n: int) -> np.ndarray:
        w = 1.0 / np.arange(1, len(self.keys) + 1) ** CDC_ZIPF_S
        return self.rng.choice(self.keys, n, replace=False, p=w / w.sum())

    def next_batch(self) -> pa.Table:
        self.seq += 1
        n_ins = round(self.batch_size * CDC_MIX["insert"])
        n_del = round(self.batch_size * CDC_MIX["delete"])
        n_upd = self.batch_size - n_ins - n_del
        touched = self._zipf_pick(n_upd + n_del)
        inserted = np.arange(self.next_insert, self.next_insert + n_ins)
        self.next_insert += n_ins
        self.keys = np.concatenate([self.keys, inserted])
        ks = np.concatenate([touched, inserted])
        ops = ["U"] * n_upd + ["D"] * n_del + ["U"] * n_ins
        live = np.array([o == "U" for o in ops])
        vecs = unit_vectors(self.rng, len(ks))
        labels = self.rng.integers(0, N_LABELS, len(ks))
        return pa.table({
            "k": pa.array(ks, pa.int64()),
            "seq": pa.array([self.seq] * len(ks), pa.int32()),
            "op": ops,
            "embedding": pa.array(
                [v.tolist() if u else None for v, u in zip(vecs, live)],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(
                [int(x) if u else None for x, u in zip(labels, live)], pa.int32()
            ),
        })

    def zipf_keys(self, n: int) -> list[int]:
        """A request's key set: ``n`` distinct keys, Zipf-skewed."""
        return sorted(int(k) for k in self._zipf_pick(n))

    def properties(self) -> dict:
        return {
            "batch_size": self.batch_size,
            "op_mix": {k: round(v, 4) for k, v in CDC_MIX.items()},
            "key_skew": f"zipf s={CDC_ZIPF_S} over a seeded key ranking",
        }
