"""Tracing for the benchmark's traced runs: spans around the engine's
public functions, and per-job/task counters from the Spark event log.

Spans are recorded from the benchmark's side only. ``Tracer.install``
replaces a public function with a span-recording wrapper in its defining
module and in every module that bound the function at import time
(``from ... import f`` at module level); the latter are listed in
``Tracer.rebound`` because patching the defining module alone would miss
their calls.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, function, span name). Spans of one name are summed into the
# per-layer metric of that name; see README.md for the metric map.
TARGETS = [
    ("bert_etl_spark.operators.index_lifecycle", f, f"index_lifecycle.{f}")
    for f in (
        "open_index", "read_with_cached_schema", "pruned_scan",
        "physical_pruned_scan", "apply_tombstones", "build_index",
        "ingest_rows", "upsert_delete_rows", "compact_index",
        "finish_compaction_swap",
    )
] + [
    ("bert_etl_spark.streaming.events", f, f"streaming.{f}")
    for f in ("cdc_index_sync", "latest_cdc_state", "cdc_compact_state",
              "cdc_lookup")
] + [
    ("bert_etl_spark.functions.markers", f, "functions.markers")
    for f in ("read_int_marker", "read_text_marker")
]


class Tracer:
    """In-memory spans: ``[name, start, end, parent index, request id]``.

    A span opened on a thread with no open span of its own (a streaming
    foreachBatch callback) takes the client thread's innermost open span
    as its parent, because the client is blocked on that call."""

    def __init__(self):
        self.spans: list[list] = []
        self.request = None
        self.rebound: list[str] = []
        self.unpatched: list[str] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._client = self._stack()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._client[-1] if self._client else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.time(), None, parent, self.request])
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx][2] = time.time()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, targets=TARGETS) -> None:
        """Patch every target in its module and in every engine module
        that holds the same function object under a module-level name.
        Module-level containers holding the function cannot be patched
        safely and are listed in ``unpatched``."""
        for modname, _, _ in targets:
            importlib.import_module(modname)
        engine = [
            m for n, m in sorted(sys.modules.items())
            if n.startswith("bert_etl_spark") and m is not None
        ]
        for modname, attr, name in targets:
            home = sys.modules[modname]
            orig = getattr(home, attr)
            traced = self._wrap(orig, name)
            for mod in engine:
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, traced)
                        if mod is not home:
                            self.rebound.append(f"{mod.__name__}.{key}")
                    elif isinstance(val, (dict, list, tuple)) and any(
                        v is orig
                        for v in (val.values() if isinstance(val, dict) else val)
                    ):
                        self.unpatched.append(f"{mod.__name__}.{key}")

    def self_times(self) -> list[float]:
        """Per span: its duration minus the union of its children's."""
        children = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s[3] is not None:
                children[s[3]].append(i)
        out = []
        for i, (_, t0, t1, _, _) in enumerate(self.spans):
            t1 = t1 if t1 is not None else t0
            covered = _union(
                (max(self.spans[c][1], t0), min(self.spans[c][2] or t0, t1))
                for c in children[i]
            )
            out.append(max(0.0, t1 - t0 - covered))
        return out

    def totals(self, phase: str) -> dict[str, tuple[int, float]]:
        """``{span name: (calls, self seconds)}`` over spans whose request
        id starts with ``phase``."""
        acc: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s, st in zip(self.spans, self.self_times()):
            if s[4] is not None and str(s[4]).startswith(phase):
                acc[s[0]][0] += 1
                acc[s[0]][1] += st
        return {k: (v[0], v[1]) for k, v in acc.items()}


def read_event_log(log_dir: str) -> dict:
    """Jobs, completed stages and finished tasks of the one application
    whose event log sits in ``log_dir`` (uncompressed, not rolled)."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    jobs: dict[int, dict] = {}
    stages, tasks = [], []
    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"submit": ev["Submission Time"] / 1e3}
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages.append(info.get("Submission Time", 0) / 1e3)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks.append({
                    "launch": ev["Task Info"]["Launch Time"] / 1e3,
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "output_b": (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0),
                    "shuffle_w_b": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    "spill_b": m.get("Disk Bytes Spilled", 0),
                    "failed": ev["Task End Reason"]["Reason"] != "Success",
                })
    return {
        "jobs": [j for j in jobs.values() if "end" in j],
        "stages": stages,
        "tasks": tasks,
    }


def _union(intervals) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total, edge = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, edge)
        if b > a:
            total += b - a
            edge = b
    return total


def spark_counters(log: dict, windows: list[tuple[float, float]]) -> dict:
    """Spark counters over the timed windows (closed loop, so windows do
    not overlap): a job, stage or task belongs to the window in which it
    was submitted or launched. ``gap_s`` is window time not covered by
    any job, i.e. driver time between and before jobs."""

    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    jobs = [j for j in log["jobs"] if inside(j["submit"])]
    tasks = [t for t in log["tasks"] if inside(t["launch"])]
    covered = sum(
        _union(
            (max(j["submit"], a), min(j["end"], b))
            for j in jobs if j["submit"] <= b and j["end"] >= a
        )
        for a, b in windows
    )
    mb = 1e6
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(1 for s in log["stages"] if inside(s)),
        "spark.tasks": len(tasks),
        "spark.job_s": sum(j["end"] - j["submit"] for j in jobs),
        "spark.gap_s": sum(b - a for a, b in windows) - covered,
        "spark.task_s": sum(t["run_s"] for t in tasks),
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.input_mb": sum(t["input_b"] for t in tasks) / mb,
        "spark.shuffle_write_mb": sum(t["shuffle_w_b"] for t in tasks) / mb,
        "spark.spill_mb": sum(t["spill_b"] for t in tasks) / mb,
        "spark.output_mb": sum(t["output_b"] for t in tasks) / mb,
        "spark.task_failures": sum(1 for t in tasks if t["failed"]),
    }
