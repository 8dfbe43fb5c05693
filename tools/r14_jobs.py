"""Per-Spark-job timing for one query run via the event log.

Runs the query (cold at warm-SF first for codegen, then timed at target
SF), with spark.eventLog enabled, then prints every job's duration, stage and
task counts (the job-start event's ``Stage Infos`` that were submitted —
skipped stages excluded) and call site —
the missing per-action breakdown wall timers can't see inside a verb.

Usage: python tools/r14_jobs.py <query> [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time


def main() -> None:
    qname = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    evdir = tempfile.mkdtemp(prefix="evlog_")
    os.environ["SPARK_GRAFT_EXTRA_CONFS"] = (
        f"spark.eventLog.enabled=true;spark.eventLog.dir=file://{evdir};"
        "spark.eventLog.compress=false;spark.eventLog.rolling.enabled=false"
    )
    from bert_etl_spark.operators import registry
    from bert_etl_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name=f"jobs_{qname}")
    fn = registry.ALL_QUERIES[qname]
    spark.range(1000).selectExpr("sum(id)").collect()
    warm = "/root/testdata/sf0.001"
    if os.path.isdir(warm) and warm != sf_dir:
        fn(spark, warm).write.format("noop").mode("overwrite").save()
        registry.release_internals()
        spark.catalog.clearCache()
    marker = time.time() * 1000.0
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    total = time.perf_counter() - t0
    registry.release_internals()
    app_id = spark.sparkContext.applicationId
    spark.stop()
    print(f"=== {qname} timed run: {total:.2f}s ===")
    path = os.path.join(evdir, app_id)
    starts: dict[int, dict] = {}
    submitted: set[int] = set()
    jobs = []
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                starts[ev["Job ID"]] = ev
            elif e == "SparkListenerStageSubmitted":
                submitted.add(ev["Stage Info"]["Stage ID"])
            elif e == "SparkListenerJobEnd":
                s = starts.get(ev["Job ID"])
                if s is None or s["Submission Time"] < marker:
                    continue
                dur = (ev["Completion Time"] - s["Submission Time"]) / 1000.0
                site = s.get("Properties", {}).get(
                    "callSite.short", ""
                ) or s.get("Properties", {}).get("spark.job.description", "")
                infos = [i for i in s.get("Stage Infos", [])
                         if i["Stage ID"] in submitted]
                tasks = sum(i.get("Number of Tasks", 0) for i in infos)
                jobs.append((s["Submission Time"], dur, ev["Job ID"],
                             len(infos), tasks, site))
    jobs.sort()
    prev_end = None
    gap_total = 0.0
    for sub, dur, jid, n_stages, n_tasks, site in jobs:
        gap = 0.0 if prev_end is None else max(0.0, (sub - prev_end) / 1000.0)
        gap_total += gap
        prev_end = max(prev_end or 0, sub + dur * 1000.0)
        print(f"job {jid:4d}  dur {dur:6.2f}s  gap_before {gap:5.2f}s  "
              f"stages {n_stages:2d}  tasks {n_tasks:4d}  {site[:90]}")
    print(f"jobs: {len(jobs)}, stages {sum(j[3] for j in jobs)}, "
          f"tasks {sum(j[4] for j in jobs)}, "
          f"sum job dur {sum(j[1] for j in jobs):.2f}s, "
          f"sum gaps {gap_total:.2f}s (driver-side/planning)")


if __name__ == "__main__":
    main()
