"""Pins the event-log parser and the benchmark's metric table.

    python3 -m pytest perfbench -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
import stats  # noqa: E402


def _job(job, group, phase, stages):
    return {
        "Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
        "Properties": {"spark.jobGroup.id": group,
                       "spark.job.description": f"{group}:{phase}"},
    }


def _task(stage, ms, run, *, py=None, shuffle_w=0, shuffle_r=0, spill=0, peak=0):
    accs = [{"Name": k, "Update": str(v)} for k, v in (py or {}).items()]
    accs.append({"Name": "internal.metrics.executorRunTime", "Update": run})
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms, "Accumulables": accs},
        "Task Metrics": {
            "Executor Run Time": run, "Executor CPU Time": run * 500_000,
            "JVM GC Time": 1, "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Peak Execution Memory": peak,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_r,
                                     "Fetch Wait Time": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
        },
    }


def _stage_done(stage):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}}


def test_parse_attributes_jobs_stages_tasks_to_ops(tmp_path):
    py = {"time to run Python workers": 30, "time to start Python workers": 5,
          "time to initialize Python workers": 2, "data sent to Python workers": 100,
          "data returned from Python workers": 40}
    events = [
        {"Event": "SparkListenerLogStart"},
        _job(0, "opA", "exec", [0, 1]),
        _task(0, 10, 8, py=py, shuffle_w=50, peak=7),
        _task(0, 10, 8, py=py, shuffle_w=50, peak=9),
        _task(0, 40, 35, py=py, shuffle_w=50, peak=3),
        _stage_done(0),
        _task(1, 5, 4, shuffle_r=150, spill=11),
        _stage_done(1),
        _job(1, "opB", "build", [2]),
        _task(2, 6, 5),
        _stage_done(2),
        _job(2, "opB", "build", [3]),
        _task(3, 6, 5),
        _stage_done(3),
        _job(3, "opB", "exec", [4]),
        _task(4, 6, 5),
        _stage_done(4),
        # a stage listed by a later job again is attributed to its first job
        _job(4, "", "", [4]),
    ]
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text(
        "\n".join(json.dumps(e) for e in events[:8]) + "\n")
    (app / "events_2_local-1").write_text(
        "\n".join(json.dumps(e) for e in events[8:]) + "\n")

    ops = eventlog.parse(str(tmp_path))
    a, b = ops["opA"], ops["opB"]
    assert (a["jobs"], a["build_jobs"], a["stages"], a["tasks"]) == (1, 0, 2, 4)
    assert (b["jobs"], b["build_jobs"], b["stages"], b["tasks"]) == (3, 2, 3, 3)
    assert ops[""]["jobs"] == 1 and ops[""]["tasks"] == 0
    assert a["run_ms"] == 55 and a["cpu_ns"] == 55 * 500_000 and a["gc_ms"] == 4
    assert a["shuffle_write_bytes"] == 150 and a["shuffle_read_bytes"] == 150
    assert a["fetch_wait_ms"] == 8 and a["spill_bytes"] == 11
    assert a["peak_exec_mem_bytes"] == 9
    assert a["py_run_ms"] == 90 and a["py_start_init_ms"] == 21
    assert a["py_bytes_sent"] == 300 and a["py_bytes_returned"] == 120
    assert b["py_run_ms"] == 0 and b["py_bytes_sent"] == 0
    # longest stage of opA is stage 0 (60 ms): max 40 over median 10
    assert a["longest_stage_task_ms"] == 60 and a["task_skew"] == 4.0
    assert b["task_skew"] == 1.0


def test_parse_real_two_op_session(tmp_path, monkeypatch):
    """A tiny Spark session: one op with a Python UDF and a shuffle, one
    op whose jobs run while its DataFrame is built."""
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    from pyspark.sql import functions as F

    from europe_gis_spark.session import get_spark

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = get_spark(
        app_name="eventlog-test", master="local[2]", shuffle_partitions=4,
        extra_conf={"spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": str(log_dir),
                    "spark.ui.showConsoleProgress": "false"},
    )
    try:
        sc = spark.sparkContext

        def double(batches):
            for b in batches:
                yield b.assign(y=b["id"] * 2)

        sc.setJobGroup("opA", "opA:exec")
        rows = (spark.range(1000, numPartitions=2)
                .mapInPandas(double, "id long, y long")
                .groupBy((F.col("y") % 3).alias("k")).count().collect())
        assert sorted(r["count"] for r in rows) == [333, 333, 334]
        sc.setJobGroup("opB", "opB:build")
        assert spark.range(100, numPartitions=2).selectExpr("id % 7 AS k").distinct().count() == 7
        sc.setJobGroup("", "")
    finally:
        spark.stop()

    ops = eventlog.parse(str(log_dir))
    assert {"opA", "opB"} <= set(ops)
    a, b = ops["opA"], ops["opB"]
    assert a["jobs"] >= 1 and a["build_jobs"] == 0
    assert a["tasks"] >= 3 and a["stages"] >= 2
    assert a["py_bytes_sent"] > 0 and a["py_bytes_returned"] > 0 and a["py_run_ms"] > 0
    assert a["shuffle_write_bytes"] > 0 and a["shuffle_read_bytes"] > 0
    assert a["run_ms"] > 0 and a["cpu_ns"] > 0
    assert b["jobs"] >= 1 and b["build_jobs"] == b["jobs"]
    assert b["py_bytes_sent"] == 0


def test_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert stats.unit_of(m["name"]) == m["unit"], m["name"]


def test_tail_percentile():
    assert stats.tail([3.0, 1.0, 2.0]) == (2.0, 50)
    values = [float(i) for i in range(1, 101)]
    # p90 by nearest rank leaves exactly ten samples beyond it
    assert stats.tail(values) == (90.0, 90)
    assert stats.tail(values[:40]) == (30.0, 75)


def test_latency_summary_is_per_operation():
    fast = [{"op": "fast", "latency_s": v} for v in (1.0, 1.25, 1.5)]
    slow = [{"op": "slow", "latency_s": v} for v in (2.0, 3.0, 2.5)]
    # pooled, the median would be 1.75: the slowest fast sample and the
    # fastest slow one, whichever way each moves
    assert stats.latency_summary(fast + slow) == (1.875, 2.5, "p50 of slow, n=3")
