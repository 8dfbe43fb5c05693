from __future__ import annotations

import pytest

from bert_etl_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="bert_etl_spark_tests", master="local[4]",
                      extra_confs={"spark.sql.shuffle.partitions": "4"})
    yield spark


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium() -> str:
    return SF_MEDIUM


def _file_scans(plan):
    """Every FileSourceScanExec of an executed physical plan: through
    adaptive wrappers, query stages, reused exchanges and subqueries."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _file_scans(plan.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _file_scans(plan.plan())
        return
    if name == "ReusedExchangeExec":
        yield from _file_scans(plan.child())
        return
    if name == "FileSourceScanExec":
        yield plan
    for group in (plan.children(), plan.subqueries()):
        for i in range(group.size()):
            yield from _file_scans(group.apply(i))


@pytest.fixture(scope="session")
def partitions_read():
    """``partitions_read(df, root)``: after ``df`` has been collected, the
    "number of partitions read" metric of each executed scan of the
    table at ``root`` — the count after run-time (dynamic) partition
    pruning, which a plan string or ``inputFiles()`` cannot show."""

    def read(df, root: str) -> list[int]:
        root = root.rstrip("/")
        out = []
        for scan in _file_scans(df._jdf.queryExecution().executedPlan()):
            paths = scan.relation().location().rootPaths()
            if any(
                paths.apply(i).toString().rstrip("/").endswith(root)
                for i in range(paths.size())
            ):
                out.append(int(scan.metrics().apply("numPartitions").value()))
        return out

    return read


@pytest.fixture(scope="session")
def top_cells():
    """``top_cells(vectors, codebook_rows, n)``: the set of cells the
    ``n``-best-centroid probe of each vector selects (dot product
    descending, ties toward the lower cid), computed in Python — an
    oracle for the probed partitions independent of the Spark plan."""

    def cells(vectors, codebook_rows, n: int) -> set[int]:
        out = set()
        for v in vectors:
            scored = sorted(
                (-sum(float(a) * float(b) for a, b in zip(v, r.ce)), int(r.cid))
                for r in codebook_rows
            )
            out.update(cid for _, cid in scored[:n])
        return out

    return cells


@pytest.fixture(scope="session")
def sign_buckets():
    """``sign_buckets(vectors, planes)``: the set of sign-LSH buckets
    (bit p set when <v, plane_p> > 0) of the vectors, computed in
    Python — the probed-bucket oracle of the sign-LSH family."""

    def buckets(vectors, planes) -> set[int]:
        return {
            sum(
                1 << p
                for p, plane in enumerate(planes)
                if sum(float(a) * float(b) for a, b in zip(v, plane)) > 0
            )
            for v in vectors
        }

    return buckets
