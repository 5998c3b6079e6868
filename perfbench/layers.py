"""Per-layer record of a traced pass, taken from outside the program.

During a traced pass every call runs under
``setJobGroup("<layer>:<call>:<pass>")`` and a ``StreamingQueryListener``
counts micro-batch progress. After the pass, outside timing, the jobs,
stages and SQL executions of the pass are pulled from Spark's local
status REST API (the API ``tools/profile_key.py`` uses) and folded
into per-layer numbers.
"""

from __future__ import annotations

import calendar
import json
import re
import time
import urllib.request
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

# every layer a workload call belongs to, in report order
CALL_LAYERS = (
    "sources.billing", "sources.jsonl", "functions",
    "operators.basket", "operators.graph", "operators.dedup", "operators",
    "plans.skew", "plans.compaction", "streaming",
)
# suffix -> (unit, better)
SUFFIXES = {
    "s": ("s", "lower"),
    "build_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "driver_gap_s": ("s", "lower"),
    "max_task_share": ("ratio", "lower"),
    "shuffle_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "python_s": ("s", "lower"),
}
EXTRA = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "sources.rows_read": ("count", "lower"),
    "sources.bytes_read": ("bytes", "lower"),
    "plans.compaction.bytes_written": ("bytes", "lower"),
    "streaming.queries_started": ("count", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.addBatch_ms": ("ms", "lower"),
    "streaming.walCommit_ms": ("ms", "lower"),
    "streaming.queryPlanning_ms": ("ms", "lower"),
    "streaming.triggerExecution_ms": ("ms", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "harness.gap_s": ("s", "lower"),
}
STREAM_PHASES = ("addBatch", "walCommit", "queryPlanning", "triggerExecution")
# a stage counts for max_task_share only if it holds at least this share
# of its layer's task time (1-task bookkeeping stages would read 1.0)
STAGE_WEIGHT_FLOOR = 0.10


def metric_specs() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name → (unit, better)."""
    specs = {
        f"{layer}.{suffix}": spec
        for layer in CALL_LAYERS for suffix, spec in SUFFIXES.items()
    }
    specs.update(EXTRA)
    return specs


class ProgressCounter(StreamingQueryListener):
    """Counts streaming queries and sums micro-batch phase durations."""

    def __init__(self) -> None:
        self.started = 0
        self.batches = 0
        self.phase_ms = defaultdict(float)

    def onQueryStarted(self, event) -> None:
        self.started += 1

    def onQueryProgress(self, event) -> None:
        self.batches += 1
        for phase, ms in (event.progress.durationMs or {}).items():
            self.phase_ms[phase] += ms

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def settle(self, quiet_s: float = 0.3, limit_s: float = 3.0) -> None:
        """Wait until progress events, delivered asynchronously, stop
        arriving."""
        end = time.time() + limit_s
        seen = -1
        while time.time() < end and seen != self.batches + self.started:
            seen = self.batches + self.started
            time.sleep(quiet_s)

    def record(self) -> dict[str, float]:
        rec = {"streaming.queries_started": self.started,
               "streaming.batches": self.batches}
        for phase in STREAM_PHASES:
            rec[f"streaming.{phase}_ms"] = self.phase_ms[phase]
        return rec


def _epoch(ts: str) -> float:
    """REST timestamp ("2026-08-18T05:41:02.123GMT") → epoch seconds."""
    base, _, frac = ts.removesuffix("GMT").partition(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + (
        float(f"0.{frac}") if frac else 0.0
    )


_DUR = re.compile(r"([\d.]+)\s*(ms|s|m|h)\b")
_DUR_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _duration_s(value: str) -> float:
    """SQL metric text → seconds. Multi-task metrics read
    "total (min, med, max ...)\\n1.3 s (...)": the first number on the
    second line is the total."""
    line = value.splitlines()[1] if "\n" in value else value
    m = _DUR.search(line)
    return float(m.group(1)) * _DUR_UNIT[m.group(2)] if m else 0.0


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Recorder:
    """Pulls one application's status records over the REST API."""

    def __init__(self, sc) -> None:
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        return {
            "jobs": self._get("/jobs"),
            "stages": self._get("/stages?withSummaries=true&quantiles=1.0"),
            "sql": self._get(
                "/sql?details=true&planDescription=false&length=1000000"
            ),
        }


def layer_record(snap: dict, calls: list[dict]) -> tuple[dict, dict]:
    """Fold a snapshot into per-layer numbers for one traced pass.

    ``calls`` holds the pass's calls in order, each with ``group``,
    ``layer``, ``t0``/``t1`` (epoch seconds) and ``s``/``build_s``. A job
    belongs to the call whose group it carries; streaming micro-batch
    jobs run under the query's own group and are matched by submission
    time instead (the loop is closed, so calls never overlap).
    Returns (layer metrics, completeness info)."""
    by_group = {c["group"]: c for c in calls}
    lo, hi = calls[0]["t0"], calls[-1]["t1"]
    job_call, jobs_in_pass = {}, []
    all_ids = [j["jobId"] for j in snap["jobs"]]
    for j in snap["jobs"]:
        sub = _epoch(j["submissionTime"])
        call = by_group.get(j.get("jobGroup"))
        if call is None and lo <= sub <= hi:
            call = next((c for c in calls if c["t0"] <= sub <= c["t1"]), None)
        if call is not None:
            job_call[j["jobId"]] = call
            jobs_in_pass.append(j)
    stages = {(s["stageId"], s["attemptId"]): s for s in snap["stages"]}
    stage_call = {}
    for j in jobs_in_pass:
        for sid in j["stageIds"]:
            stage_call[sid] = job_call[j["jobId"]]

    rec = defaultdict(float)
    stage_time = defaultdict(list)  # layer -> [(run_ms, max_task_ms)]
    intervals = defaultdict(list)
    for c in calls:
        rec[f"{c['layer']}.s"] += c["s"]
        rec[f"{c['layer']}.build_s"] += c["build_s"]
    for j in jobs_in_pass:
        layer = job_call[j["jobId"]]["layer"]
        rec[f"{layer}.jobs"] += 1
        rec[f"{layer}.tasks"] += j["numCompletedTasks"]
        if "completionTime" in j:
            intervals[layer].append(
                (_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
            )
    for (sid, _att), s in stages.items():
        call = stage_call.get(sid)
        if call is None or s["status"] != "COMPLETE":
            continue
        layer = call["layer"]
        rec[f"{layer}.shuffle_bytes"] += s["shuffleWriteBytes"]
        rec[f"{layer}.spill_bytes"] += (
            s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        )
        rec["sources.rows_read"] += s["inputRecords"]
        rec["sources.bytes_read"] += s["inputBytes"]
        if layer == "plans.compaction":
            rec["plans.compaction.bytes_written"] += s["outputBytes"]
        dist = s.get("taskMetricsDistributions") or {}
        top = (dist.get("executorRunTime") or [0.0])[-1]
        stage_time[layer].append((s["executorRunTime"], top))
    for layer, rows in stage_time.items():
        total = sum(r for r, _ in rows)
        shares = [top / run for run, top in rows
                  if run > 0 and run >= STAGE_WEIGHT_FLOOR * total]
        rec[f"{layer}.max_task_share"] = max(shares, default=0.0)
    for layer in {c["layer"] for c in calls}:
        rec[f"{layer}.driver_gap_s"] = max(
            0.0, rec[f"{layer}.s"] - _union_s(intervals[layer])
        )
    for e in snap["sql"]:
        ids = e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"]
        call = next((job_call[i] for i in ids if i in job_call), None)
        if call is None:
            continue
        for node in e["nodes"]:
            for m in node["metrics"]:
                if re.fullmatch(r"time to \w+ Python workers", m["name"]):
                    rec[f"{call['layer']}.python_s"] += _duration_s(m["value"])
    info = {
        "jobs_collected": len(all_ids),
        "jobs_issued": max(all_ids, default=-1) + 1,
        "jobs_in_pass": len(jobs_in_pass),
    }
    return dict(rec), info
