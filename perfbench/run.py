"""Run one benchmark workload for one seed; print every metric.

Usage, from the repository root:

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 8 --trace 0

Workloads: etl_batch, index_probe, index_churn (see README.md). The run
generates its inputs from the seed, starts a ``local[<cpus>]`` session
through ``get_spark``, sets up, runs the closed loop for ``--seconds``
(whole passes), checks every output against DuckDB, and prints as its
last line ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Everything the run writes lives under
``.perfbench_work/`` and is removed at exit. Exit code 1 means an output
was wrong or an operation failed; 2 means the run could not start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

DRIVER_MEM = "1g"  # below physical RAM; session.py's default is 48g


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def _pin_environment(root: str, work: str) -> dict:
    """Environment the session and its Python workers inherit."""
    for d in ("local", "tmp", "idx/tmp"):
        os.makedirs(os.path.join(work, d))
    tmp = os.path.join(work, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Python workers import the engine (multimodal_decode's UDFs)
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
        # engine-side temp dirs (session scratch indexes) stay in the run
        "TMPDIR": os.path.join(work, "idx", "tmp"),
        # both JVMs spark-submit starts keep their temp files in the run
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                             f"-Dderby.system.home={tmp}",
    }
    os.environ.update(env)
    for knob in ("SPARK_GRAFT_EXTRA_CONFS", "SPARK_GRAFT_SHUFFLE"):
        os.environ.pop(knob, None)
    tempfile.tempdir = None
    return env


def _spark_confs(work: str, trace: bool, workload_confs: dict) -> dict:
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap, so peak RSS does not depend on when the
        # collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }
    if trace:
        log = os.path.join(work, "eventlog")
        os.makedirs(log)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    confs.update(workload_confs)
    return confs


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)


def _storage(spark, dirs) -> dict:
    """File, row and tombstone counts of the run's durable tables."""
    from bert_etl_spark.operators.index_lifecycle import index_file_stats

    files = rows = tomb = 0
    for d, part in dirs:
        if not os.path.isdir(d):
            continue
        stats = index_file_stats(spark, d, part).collect()
        files += sum(r["n_files"] for r in stats)
        rows += sum(r["n_rows"] for r in stats)
        tomb += max((r["tombstone_bytes"] for r in stats), default=0)
    return {"index.files": files, "index.rows": rows,
            "index.tombstone_bytes": tomb}


def _per_layer(run, wl, tracer, log, storage, session) -> dict:
    from perfbench.trace import spark_counters
    from perfbench.workloads import ETL_MIX, PROBES

    n = len(run.windows)
    counters = spark_counters(log, run.windows)
    out = {k: v / n for k, v in counters.items()}
    storage["index.bytes_written_per_op"] = (
        counters["spark.output_mb"] * 1e6 / max(run.ops, 1))
    out.update(session)
    # layers this workload does not exercise read 0
    out.update({f"operators.{g}_s": 0.0 for _, g in ETL_MIX})
    out.update({m: 0.0 for _, m in PROBES})
    out.update(storage)
    out.update(wl.layer(run))
    timed, setup = tracer.totals("timed"), tracer.totals("setup")

    def per_pass(span, i, scale=1.0):
        return timed.get(span, (0, 0.0))[i] * scale / n

    il = "index_lifecycle"
    out[f"{il}.open_index.calls"] = per_pass(f"{il}.open_index", 0)
    for f in ("open_index", "read_with_cached_schema", "apply_tombstones"):
        out[f"{il}.{f}.ms"] = per_pass(f"{il}.{f}", 1, 1e3)
    out[f"{il}.pruned_scan.ms"] = (per_pass(f"{il}.pruned_scan", 1, 1e3)
                                   + per_pass(f"{il}.physical_pruned_scan", 1, 1e3))
    out[f"{il}.build_index.s"] = setup.get(f"{il}.build_index", (0, 0.0))[1]
    for f in ("ingest_rows", "upsert_delete_rows", "compact_index",
              "finish_compaction_swap"):
        out[f"{il}.{f}.s"] = per_pass(f"{il}.{f}", 1)
    # the apply runs in the stream's thread; its own span is the request
    out["streaming.cdc_apply_stream.s"] = per_pass("request.cdc_apply_stream", 1)
    for f in ("cdc_index_sync", "latest_cdc_state", "cdc_compact_state"):
        out[f"streaming.{f}.s"] = per_pass(f"streaming.{f}", 1)
    out["functions.markers.reads"] = per_pass("functions.markers", 0)
    out["functions.markers.ms"] = per_pass("functions.markers", 1, 1e3)
    out["trace.pass_s"] = statistics.median(run.pass_s)
    out["trace.spans"] = sum(c for c, _ in timed.values()) / n
    return out


def _run(args, root: str, work: str, bench: dict) -> tuple[dict, bool]:
    env = _pin_environment(root, work)
    # the repository root instead of this script's directory, whose
    # module names (trace, check, ...) would shadow top-level modules
    sys.path[0] = root
    from perfbench import gen
    from perfbench.trace import Tracer, read_event_log
    from perfbench.workloads import WORKLOADS, Run

    inputs = os.path.join(work, "inputs")
    props = {"tables": gen.write_tables(args.seed, inputs, args.workload)}

    from bert_etl_spark.operators import registry
    from bert_etl_spark.session import get_spark

    registry.load_all()
    wl = WORKLOADS[args.workload]()
    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench_{args.workload}",
        extra_confs=_spark_confs(work, args.trace, wl.confs(work)),
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    start_s = time.perf_counter() - t0
    run = Run(spark, inputs, work, args.seed, args.seconds, tracer)
    try:
        wl.prepare(run)  # untimed: op streams and DuckDB answers
        t1 = time.perf_counter()
        wl.setup(run)
        warmup_s = time.perf_counter() - t1
        loop0 = time.perf_counter()
        wl.loop(run)
        loop_s = time.perf_counter() - loop0
        if tracer is not None:
            tracer.request = "verify"  # checks are not a timed request
        wl.verify(run)
        disk_mb = wl.disk_mb(run)
        if tracer is not None:
            tracer.request = "stats"
            storage = _storage(spark, wl.index_dirs(run))
        jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = _vm_hwm_mb(jvm) + _vm_hwm_mb("self")
    finally:
        _stop(spark)

    failed_ops = sum(1 for r in run.requests if not r["ok"])
    bad_checks = sum(1 for f in run.failures if f.startswith("check "))
    attempted = len(run.requests) + run.n_checks
    failed = failed_ops + bad_checks
    probes = run.probe_ms()
    info = {
        "workload": args.workload, "seed": args.seed,
        "env": dict(env, master=f"local[{env['SPARK_GRAFT_CPUS']}]"),
        "inputs": dict(props, **run.props),
        "start_s": start_s,
        "setup_requests_s": [
            (r["kind"], round(r["t1"] - r["t0"], 3))
            for r in run.requests if r["phase"] == "setup"
        ],
        "passes": len(run.windows), "probes": len(probes),
        "loop_s": loop_s, "failed_ratio": failed / attempted,
        "failures": run.failures[:20],
    }
    if tracer is None:
        metrics = {
            "setup_s": start_s + warmup_s,
            "pass_s": statistics.median(run.pass_s),
            "probe_p50_ms": statistics.median(probes) if probes else 0.0,
            "ops_per_s": run.ops / run.ops_s,
            "peak_rss_mb": rss_mb,
            "disk_mb": disk_mb,
        }
        spec = bench["end_to_end"]
    else:
        log = read_event_log(os.path.join(work, "eventlog"))
        metrics = _per_layer(run, wl, tracer, log, storage,
                             {"session.start_s": start_s,
                              "session.warmup_s": warmup_s})
        info["rebound_call_sites"] = tracer.rebound
        info["unpatched_containers"] = tracer.unpatched
        spec = bench["per_layer"]
    units = {m["name"]: m["unit"] for m in spec}
    if set(units) != set(metrics):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(metrics))}"
        )
    print(json.dumps({"perfbench": info}))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }
    return result, failed == 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_batch", "index_probe", "index_churn"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "bert_etl_spark", "session.py")):
        print("perfbench: run from the repository root; bert_etl_spark/ "
              "is missing here", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result, ok = _run(args, root, work, bench)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    print(json.dumps(result), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
