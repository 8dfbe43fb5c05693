"""A/B: trained (deterministic k-means-lite) vs first-N coarse centroids
for the MaxSim IVF path, at EQUAL probe budget (round-9 verdict ask #4).

The question: how much recall@5 does the first-N-vectors quantizer leave
on the table vs centroids trained with a few deterministic Lloyd rounds
(init = the same first N vectors, assignment = the production argmax-dot
contract, update = per-cell mean rounded to 6 dp, fixed iteration count —
no RNG anywhere, so the whole training is SQL-expressible if adopted)?

Run:  python tools/centroid_ab.py [sf_dir ...]
Prints one line per SF: recall@5 first-N vs trained at P=1, plus the
candidate-set sizes (the cost side of the trade — recall gains that come
from assigning MORE docs to the probed cell are not quantizer wins).
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from bert_etl_spark.operators.similarity import (  # noqa: E402
    MAXSIM_GROUP,
    MAXSIM_IVF_CENTROIDS,
    MAXSIM_IVF_PROBES,
    MAXSIM_K,
    MAXSIM_QUERY_DOCS,
    _prepared,
    sim_maxsim_topk,
)
from bert_etl_spark.functions.deterministic import dsum  # noqa: E402


def dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )

KMEANS_ITERS = 3


def _collect_centroids(df: DataFrame) -> list[list[float]]:
    return [list(r.ce) for r in df.orderBy("cid").collect()]


def _assign_with(prep: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(vec_id, doc, e, nrm, cell) under the given centroid table — the
    production argmax-dot contract (highest dot, ties to lowest cid)."""
    cent_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])
    best = F.array_max(
        F.transform(
            cent_lit,
            lambda ce, i: F.struct(
                dot(F.col("e"), ce).alias("d"), (-i).alias("ncid")
            ),
        )
    )
    return prep.select("vec_id", "doc", "e", "nrm", (-best["ncid"]).alias("cell"))


def train_kmeans_lite(
    prep: DataFrame, init: list[list[float]], iters: int = KMEANS_ITERS
) -> list[list[float]]:
    """Deterministic Lloyd rounds: argmax-dot assignment (the production
    cell contract), per-cell per-dimension DECIMAL-exact mean rounded to
    6 dp (order-insensitive, so a SQL twin reproduces it bit-for-bit),
    empty cells keep their previous centroid."""
    cents = [list(map(float, c)) for c in init]
    for _ in range(iters):
        assigned = _assign_with(prep, cents)
        dims = (
            assigned.select("cell", F.posexplode("e").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.round(dsum("x") / F.count("*"), 6).alias("m"))
        )
        rows = dims.collect()
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = float(r["m"])
        for cid in range(len(cents)):
            if cid in by_cell:
                cents[cid] = [
                    by_cell[cid][p] for p in range(len(cents[cid]))
                ]
    return cents


def _ivf_topk(
    spark: SparkSession, prep: DataFrame, cents: list[list[float]]
) -> tuple[DataFrame, int]:
    """Two-stage IVF MaxSim under the given centroids (P=MAXSIM_IVF_PROBES),
    mirroring sim_maxsim_ivf's plan; returns (topk df, candidate pairs)."""
    assign = _assign_with(prep, cents).localCheckpoint(eager=True)
    n_query_toks = MAXSIM_QUERY_DOCS * MAXSIM_GROUP
    cent_lit = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])
    qprep = prep.filter(F.col("vec_id") < n_query_toks)
    scored = qprep.select(
        "vec_id",
        "doc",
        "e",
        "nrm",
        F.posexplode(
            F.transform(
                cent_lit, lambda ce, i: F.struct(dot(F.col("e"), ce).alias("d"))
            )
        ).alias("cid", "s"),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc(F.col("s.d")), "cid")
    probes = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MAXSIM_IVF_PROBES)
        .select(F.col("doc").alias("q_doc"), F.col("cid").alias("cell"))
    )
    cand = (
        assign.join(F.broadcast(probes), "cell")
        .filter(F.col("doc") != F.col("q_doc"))
        .select("q_doc", F.col("doc").alias("c_doc"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_cand = cand.count()
    qs = qprep.select(
        F.col("doc").alias("q_doc"),
        F.col("vec_id").alias("q_tok"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    cos = dot(F.col("e"), F.col("qe")) / (F.col("nrm") * F.col("qnrm"))
    per_tok = (
        assign.withColumnRenamed("doc", "c_doc")
        .join(F.broadcast(cand), "c_doc")
        .join(F.broadcast(qs), "q_doc")
        .groupBy("q_doc", "q_tok", "c_doc")
        .agg(F.max(cos).alias("m"))
    )
    scores = per_tok.groupBy("q_doc", "c_doc").agg(
        F.round(dsum("m"), 6).alias("maxsim")
    )
    w2 = W.partitionBy("q_doc").orderBy(F.desc("maxsim"), "c_doc")
    topk = (
        scores.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= MAXSIM_K)
        .select("q_doc", "c_doc")
    )
    return topk, n_cand


def _recall(exact: DataFrame, approx: DataFrame) -> float:
    hit = exact.join(approx.withColumn("h", F.lit(1)), ["q_doc", "c_doc"], "left")
    r = hit.agg(
        (F.count("h") / F.count("*")).alias("recall")
    ).collect()[0]["recall"]
    return float(r)


def main() -> None:
    from bert_etl_spark.session import get_spark

    sfs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    spark = get_spark(app_name="centroid_ab")
    for sf in sfs:
        prep = (
            _prepared(spark, sf)
            .withColumn("doc", F.expr(f"vec_id div {MAXSIM_GROUP}"))
            .localCheckpoint(eager=True)
        )
        first_n = [
            list(r.e)
            for r in prep.filter(F.col("vec_id") < MAXSIM_IVF_CENTROIDS)
            .orderBy("vec_id")
            .collect()
        ]
        exact = sim_maxsim_topk(spark, sf).select("q_doc", "c_doc")
        exact = exact.localCheckpoint(eager=True)

        import time

        t0 = time.perf_counter()
        base_topk, base_cand = _ivf_topk(spark, prep, first_n)
        base_recall = _recall(exact, base_topk)
        t_base = time.perf_counter() - t0

        t0 = time.perf_counter()
        trained = train_kmeans_lite(prep, first_n)
        t_train = time.perf_counter() - t0
        t0 = time.perf_counter()
        tr_topk, tr_cand = _ivf_topk(spark, prep, trained)
        tr_recall = _recall(exact, tr_topk)
        t_tr = time.perf_counter() - t0

        n_docs = prep.select("doc").distinct().count()
        print(
            f"{sf}: docs={n_docs} P={MAXSIM_IVF_PROBES} "
            f"firstN recall@{MAXSIM_K}={base_recall:.4f} cand_pairs={base_cand} ({t_base:.1f}s) | "
            f"trained(k-means x{KMEANS_ITERS}) recall@{MAXSIM_K}={tr_recall:.4f} "
            f"cand_pairs={tr_cand} (train {t_train:.1f}s, query {t_tr:.1f}s)",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
