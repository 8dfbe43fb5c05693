"""Correctness checks against DuckDB, outside every timed region.

Rows are compared the way ``tests/test_oracle_parity.py`` compares them:
same column set, same row count, and the same order-insensitive set of
normalized values, here reduced to one SHA-256 per side.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import duckdb

_parity = None


def _rowset(cols, rows):
    global _parity
    if _parity is None:
        path = os.path.join("tests", "test_oracle_parity.py")
        spec = importlib.util.spec_from_file_location("_oracle_parity", path)
        _parity = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(_parity)
    return _parity._rowset(cols, rows)


def digest(cols, rows) -> str:
    """Order-insensitive hash of a result: sorted columns, normalized
    values, sorted rows."""
    return hashlib.sha256(repr(_rowset(list(cols), rows)).encode()).hexdigest()


def same(cols_a, rows_a, cols_b, rows_b) -> str | None:
    """None when the two results match, else why they differ."""
    if sorted(cols_a) != sorted(cols_b):
        return f"column sets differ: {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"row counts differ: {len(rows_a)} vs {len(rows_b)}"
    if digest(cols_a, rows_a) != digest(cols_b, rows_b):
        return "value hashes differ"
    return None


def connect(inputs_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for f in sorted(os.listdir(inputs_dir)):
        if f.endswith(".parquet"):
            con.sql(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(inputs_dir, f)}')"
            )
    return con


def oracle(con, sql: str) -> tuple[list, list]:
    rel = con.sql(sql)
    return rel.columns, rel.fetchall()


# Per-key argmax of a CDC op table, the op log's own resolution rule:
# highest seq wins, and 'D' sorts before 'U' so a delete wins a tie.
CDC_ARGMAX = """
    SELECT k, seq, op, embedding, label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC, op)
            AS rn
        FROM {ops}
    ) WHERE rn = 1
"""


def cdc_latest(con, ops_table) -> dict[int, tuple]:
    """``{k: (k, seq, op, embedding, label)}`` for the ops applied so far."""
    con.register("_ops", ops_table)
    try:
        rows = con.sql(CDC_ARGMAX.format(ops="_ops")).fetchall()
    finally:
        con.unregister("_ops")
    return {r[0]: r for r in rows}


CDC_COLS = ["k", "seq", "op", "embedding", "label"]


def ivf_after_ops(con, latest: dict[int, tuple]) -> tuple[list, list]:
    """``sim_ivf``'s answer once the ops in ``latest`` are applied to the
    generated ``embeddings``: the codebook (the first N_CENTROIDS vectors)
    and the query vectors stay those of the generated table, as the
    durable index freezes its codebook at build and the probe takes its
    queries from the input; candidates are the live vectors, each in the
    cell of its nearest frozen centroid."""
    import pyarrow as pa

    from bert_etl_spark.operators.similarity import (
        N_CENTROIDS,
        N_PROBES,
        N_QUERIES,
        TOP_K,
    )

    base = con.sql("SELECT vec_id, embedding FROM embeddings").fetchall()
    rows = [r for r in base if r[0] not in latest] + [
        (k, r[3]) for k, r in latest.items() if r[2] == "U"
    ]
    live = pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
    })
    prep = """SELECT vec_id, e,
               sqrt(list_aggregate(list_transform(e, x -> x * x), 'sum')) AS nrm
        FROM (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM {t})"""
    dot = ("list_aggregate(list_transform(range(len({a}.e)), "
           "i -> {a}.e[i+1] * {b}.{be}[i+1]), 'sum')")
    cos = dot.format(a="q", b="c", be="e") + " / (q.nrm * c.nrm)"
    con.register("_live", live)
    try:
        rel = con.sql(f"""
        WITH n0 AS ({prep.format(t="embeddings")}),
        nl AS ({prep.format(t="_live")}),
        cent AS (SELECT vec_id AS cid, e AS ce FROM n0
                 WHERE vec_id < {N_CENTROIDS}),
        qs AS (
            SELECT q.vec_id AS q_id, c.cid, ROW_NUMBER() OVER (
                PARTITION BY q.vec_id
                ORDER BY {dot.format(a="q", b="c", be="ce")} DESC, c.cid) AS rn
            FROM n0 q, cent c WHERE q.vec_id < {N_QUERIES}
        ),
        ls AS (
            SELECT l.vec_id, c.cid, ROW_NUMBER() OVER (
                PARTITION BY l.vec_id
                ORDER BY {dot.format(a="l", b="c", be="ce")} DESC, c.cid) AS rn
            FROM nl l, cent c
        ),
        cand AS (
            SELECT qs.q_id, ls.vec_id AS neighbor_id
            FROM qs JOIN ls ON qs.cid = ls.cid
            WHERE qs.rn <= {N_PROBES} AND ls.rn = 1 AND ls.vec_id != qs.q_id
        )
        SELECT * FROM (
            SELECT cand.q_id, cand.neighbor_id, ROUND({cos}, 6) AS cosine,
                   CAST(ROW_NUMBER() OVER (PARTITION BY cand.q_id
                        ORDER BY {cos} DESC, cand.neighbor_id) AS INTEGER) AS rn
            FROM cand
            JOIN n0 q ON q.vec_id = cand.q_id
            JOIN nl c ON c.vec_id = cand.neighbor_id
        ) WHERE rn <= {TOP_K}
        """)
        return rel.columns, rel.fetchall()
    finally:
        con.unregister("_live")
