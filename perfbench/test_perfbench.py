"""Tests of the benchmark harness itself.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import cds  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(
        workloads.WORKLOAD_KEYS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    specs = layers.metric_specs()
    assert {m["name"]: (m["unit"], m["better"])
            for m in bench["per_layer"]} == specs
    for w in workloads.WORKLOAD_KEYS:
        for call in workloads.build(w).calls:
            assert call.name in workloads.READS
            assert f"{call.layer}.s" in specs


def test_layer_record_splits_wall_time_into_jobs_and_driver_gap():
    def ts(sec: float) -> str:
        whole = int(sec)
        return f"2026-01-01T00:00:{whole:02d}.{int((sec - whole) * 1000):03d}GMT"

    base = 1767225600.0  # 2026-01-01T00:00:00Z
    calls = [
        {"name": "a", "layer": "operators", "group": "operators:a:1",
         "t0": base + 1, "t1": base + 4, "s": 3.0, "build_s": 0.5},
        {"name": "b", "layer": "streaming", "group": "streaming:b:1",
         "t0": base + 4, "t1": base + 6, "s": 2.0, "build_s": 2.0},
    ]
    jobs = [
        # two overlapping jobs of call a: union 1.5 s of its 3 s
        {"jobId": 0, "jobGroup": "operators:a:1", "submissionTime": ts(1.5),
         "completionTime": ts(2.5), "stageIds": [0], "numCompletedTasks": 4},
        {"jobId": 1, "jobGroup": "operators:a:1", "submissionTime": ts(2.0),
         "completionTime": ts(3.0), "stageIds": [1], "numCompletedTasks": 1},
        # a micro-batch job under the query's own group: matched by time
        {"jobId": 2, "jobGroup": "run-id", "submissionTime": ts(4.5),
         "completionTime": ts(5.0), "stageIds": [2], "numCompletedTasks": 2},
    ]

    def stage(sid, run_ms, top_ms, shuffle=0):
        return {"stageId": sid, "attemptId": 0, "status": "COMPLETE",
                "executorRunTime": run_ms, "shuffleWriteBytes": shuffle,
                "memoryBytesSpilled": 0, "diskBytesSpilled": 0,
                "inputRecords": 10, "inputBytes": 100, "outputBytes": 0,
                "taskMetricsDistributions": {"executorRunTime": [top_ms]}}

    snap = {
        "jobs": jobs,
        "stages": [stage(0, 1000, 600, shuffle=50), stage(1, 10, 10),
                   stage(2, 400, 100)],
        "sql": [{"successJobIds": [1], "failedJobIds": [],
                 "runningJobIds": [], "nodes": [{"metrics": [
                     {"name": "time to run Python workers",
                      "value": "total (min, med, max)\n1.3 s (0 ms, 1 s)"},
                 ]}]}],
    }
    rec, info = layers.layer_record(snap, calls)
    assert rec["operators.jobs"] == 2 and rec["streaming.jobs"] == 1
    assert rec["operators.tasks"] == 5
    assert abs(rec["operators.driver_gap_s"] - 1.5) < 1e-6
    assert abs(rec["streaming.driver_gap_s"] - 1.5) < 1e-6
    # stage 1 holds under 10% of the layer's task time, so it is ignored
    assert rec["operators.max_task_share"] == 0.6
    assert rec["operators.shuffle_bytes"] == 50
    assert abs(rec["operators.python_s"] - 1.3) < 1e-9
    assert rec["sources.rows_read"] == 30
    assert info == {"jobs_collected": 3, "jobs_issued": 3, "jobs_in_pass": 3}


def test_python_worker_call_from_another_directory(tmp_path):
    """Python data source workers import ``bigdata1_spark`` even when
    the process starts outside the checkout with no PYTHONPATH."""
    code = f"""
import sys
sys.path.insert(0, {HERE!r})
import run
run.configure_env({ROOT!r}, {str(tmp_path)!r})
from bigdata1_spark import registry
from bigdata1_spark.session import get_spark
import os
spark = get_spark(extra_conf=run.spark_conf(os.environ["TMPDIR"]))
rows = registry.QUERIES["python_datasource"](spark, "unused").collect()
print("ROWS", len(rows))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 12" in proc.stdout


def test_observed_hash_repeats_across_actions_and_sees_changes(tmp_path):
    """The hash taken while a noop write runs a frame equals the one a
    collect takes, whatever the row order, and moves when a value does."""
    code = f"""
import sys
sys.path.insert(0, {HERE!r})
import run
run.configure_env({ROOT!r}, {str(tmp_path)!r})
import os
from checks import observed, observed_hash
from bigdata1_spark.session import get_spark
spark = get_spark(extra_conf=run.spark_conf(os.environ["TMPDIR"]))
df = spark.range(1000).selectExpr("id % 7 AS k", "id * 0.5 AS v")
out, a = observed(df)
out.write.format("noop").mode("overwrite").save()
out, b = observed(df.orderBy("v", ascending=False))
out.toPandas()
out, c = observed(df.selectExpr("k", "IF(k = 3 AND v = 1.5, v + 1, v) AS v"))
out.write.format("noop").mode("overwrite").save()
print("HASHES", observed_hash(a), observed_hash(b), observed_hash(c))
spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, capture_output=True,
        text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    a, b, c = proc.stdout.split("HASHES", 1)[1].split()
    assert a == b != c and a.startswith("1000:")


def test_cds_keeps_a_spark_conf_dir_that_holds_settings(tmp_path,
                                                         monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert cds.use_empty_conf_dir(str(tmp_path / "work"))
    assert os.environ["SPARK_CONF_DIR"] == str(tmp_path / "work" / "conf")
    assert not os.listdir(os.environ["SPARK_CONF_DIR"])

    (conf / "spark-defaults.conf").write_text("spark.x 1\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert not cds.use_empty_conf_dir(str(tmp_path / "work"))
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
