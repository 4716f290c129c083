"""Tests for the measurement scripts: their event-log helpers and sessions.

The scripts read their Spark metrics from the event log of a stopped
session (scripts/eventlog.py). The attribution rules are pinned here on
synthetic event-log lines: only stage attempts that completed without a
failure count, a retried attempt counts on its own — it re-executed its
tasks and its bytes genuinely moved — metrics a stage did not report
count as zero, and each job group gets only its own stages.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from eventlog import FIELDS, parse, totals  # noqa: E402


def _submitted(sid, attempt=0, group="g"):
    return json.dumps({
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {"Stage ID": sid, "Stage Attempt ID": attempt},
        "Properties": {"spark.jobGroup.id": group},
    })


def _completed(sid, attempt=0, failed=False, num_tasks=1, **metrics):
    names = {f: names[0] for f, names in FIELDS.items()}
    info = {
        "Stage ID": sid, "Stage Attempt ID": attempt, "Number of Tasks": num_tasks,
        "Accumulables": [{"Name": names[f], "Value": v} for f, v in metrics.items()],
    }
    if failed:
        info["Failure Reason"] = "Job aborted"
    return json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": info})


def _stage(sid, attempt=0, group="g", **metrics):
    return [_submitted(sid, attempt, group), _completed(sid, attempt, **metrics)]


def _task(sid, run_ms, local=0, remote=0, attempt=0, reason="Success"):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": attempt,
        "Task End Reason": {"Reason": reason},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Shuffle Read Metrics": {"Local Bytes Read": local, "Remote Bytes Read": remote},
        },
    })


def test_sums_only_new_complete_stages():
    lines = [
        *_stage(1, shuffleWriteBytes=100, inputBytes=7),
        *_stage(2, shuffleWriteBytes=30),
        _submitted(3),  # never completed
        _submitted(4),
        _completed(4, failed=True, shuffleWriteBytes=999),
    ]
    stages = parse(lines)["g"]["stages"]
    t = totals(stages)
    assert t["shuffleWriteBytes"] == 130
    assert t["inputBytes"] == 7
    assert sorted(s["stage"] for s in stages) == [1, 2]


def test_job_groups_get_disjoint_totals():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "a"}}),
        *_stage(1, group="a", shuffleWriteBytes=100),
        json.dumps({"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "b"}}),
        json.dumps({"Event": "SparkListenerJobStart", "Properties": {"spark.jobGroup.id": "b"}}),
        *_stage(2, group="b", shuffleWriteBytes=40),
        *_stage(3, group=None, shuffleWriteBytes=5),  # e.g. a warm-up
    ]
    groups = parse(lines)
    assert totals(groups["a"]["stages"])["shuffleWriteBytes"] == 100
    assert totals(groups["b"]["stages"])["shuffleWriteBytes"] == 40
    assert (groups["a"]["jobs"], groups["b"]["jobs"]) == (1, 2)
    assert [s["stage"] for s in groups[None]["stages"]] == [3]


def test_retried_attempt_counts_separately():
    lines = [
        *_stage(5, attempt=0, shuffleWriteBytes=100),
        *_stage(5, attempt=1, shuffleWriteBytes=100),
    ]
    assert totals(parse(lines)["g"]["stages"])["shuffleWriteBytes"] == 200


def test_missing_metric_fields_default_to_zero():
    lines = [
        _submitted(9),
        json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 9}}),
    ]
    stages = parse(lines)["g"]["stages"]
    assert totals(stages) == dict.fromkeys(FIELDS, 0)
    assert [(s["stage"], s["attempt"]) for s in stages] == [(9, 0)]


def test_shuffle_read_is_local_plus_remote():
    read = FIELDS["shuffleReadBytes"]
    info = {"Stage ID": 1, "Accumulables": [
        {"Name": read[0], "Value": 30}, {"Name": read[1], "Value": 12},
    ]}
    lines = [_submitted(1), json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": info})]
    assert totals(parse(lines)["g"]["stages"])["shuffleReadBytes"] == 42


# ---------------------------------------------------------- skew_audit

from skew_audit import dominant_stage, skew_ratios  # noqa: E402


def test_dominant_stage_picks_biggest_new_shuffle_reader():
    lines = [
        *_stage(1, shuffleReadBytes=100),
        *_stage(2, shuffleReadBytes=500),
        *_stage(3, group="other", shuffleReadBytes=900),  # another run's stage
        _submitted(4),  # still running: not a candidate
        _completed(5, failed=True, shuffleReadBytes=999),
    ]
    dom = dominant_stage(parse(lines)["g"]["stages"])
    assert dom["stage"] == 2


def test_dominant_stage_none_when_fully_broadcast():
    # a plan with no exchange consumer (all-broadcast joins, no agg)
    lines = [*_stage(1, shuffleReadBytes=0), *_stage(2)]
    assert dominant_stage(parse(lines)["g"]["stages"]) is None


def test_skew_ratios_reduce_quantiles():
    lines = [
        *_stage(1, num_tasks=4, shuffleReadBytes=47000),
        _task(1, 200, local=40000, remote=6000),
        _task(1, 1, local=0),
        _task(1, 10, local=1000),
        _task(1, 7, local=0, remote=0, reason="TaskKilled"),  # not a success
        _task(1, 9, local=0),
    ]
    [stage] = parse(lines)["g"]["stages"]
    assert stage["num_tasks"] == 4
    # 4 successful tasks: the median is sorted[min(floor(0.5*4), 3)] = sorted[2]
    r = skew_ratios(stage["tasks"])
    assert (r["task_time_med_ms"], r["task_time_max_ms"]) == (10, 200)
    assert r["task_time_max_over_med"] == 20.0
    assert r["task_read_max_over_med"] == 46.0
    assert r["task_read_max_bytes"] == 46000


def test_skew_ratios_zero_median_yields_none():
    r = skew_ratios([(0, 0), (0, 0), (5, 0)])
    assert r["task_time_max_over_med"] is None
    assert r["task_read_max_over_med"] is None


def test_stock_builder_reads_cpus_and_driver_heap(monkeypatch):
    """The one stock session builder sizes like get_spark: SPARK_GRAFT_CPUS
    slots and shuffle partitions, SPARK_DRIVER_MEM heap. Read from the
    builder's options; no session starts (the suite's one is shared)."""
    import measure_baseline as mb

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    opts = mb.stock_builder("stock-probe")._options
    assert opts["spark.master"] == "local[3]"
    assert opts["spark.sql.shuffle.partitions"] == "3"
    assert opts["spark.driver.memory"] == "3g"
    assert opts["spark.ui.enabled"] == "false"
    monkeypatch.delenv("SPARK_DRIVER_MEM")
    assert mb.stock_builder("stock-probe")._options["spark.driver.memory"] == "8g"


@pytest.mark.parametrize(
    "build_s, wall, udf_s, bound",
    [(0.0, 5.0, 60, 30), (2.0, 0.5, 20, 15)],
    ids=["running_job", "before_first_job"],
)
def test_run_budgeted_cancels_the_callers_group(spark, build_s, wall, udf_s, bound):
    """The wall-clock kill cancels the job group its caller set and leaves
    it set, so the run's jobs stay attributed to the caller's group. A
    wall that fires while the builder is still on the driver (no job
    submitted yet) must still cancel the job that follows."""
    import time

    from pyspark.sql import functions as F
    from scale_sweep import _run_budgeted

    sc = spark.sparkContext
    slow = F.udf(lambda x: time.sleep(udf_s) or x, "long")

    def build(d):
        time.sleep(build_s)
        return spark.range(1).select(slow("id"))

    sc.setJobGroup("budget-probe", "wall probe", True)
    try:
        sec, aborted = _run_budgeted(spark, build, None, wall)
        assert aborted and sec < bound
        assert sc.getLocalProperty("spark.jobGroup.id") == "budget-probe"
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_shuffle_audit_end_to_end_from_event_log(tmp_path):
    """Integration pin for the event-log metrics path (the helpers above
    can't catch Spark renaming an event field or changing the log
    layout): run the audit script as a subprocess — it needs its own
    SparkContext with the event log on — on the smallest fixture and
    assert the JSON contract: metrics present, shuffle bytes nonzero
    (q177's detection always exchanges), write <= read-side accounting
    coherent; and its temporary log directory is gone afterwards."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001", SPARK_GRAFT_CPUS="4")
    env["TMPDIR"] = str(tmp_path)
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "shuffle_audit.py"),
         "--engine-only", "--queries", "q177_exact_substring_dedup"],
        capture_output=True, text=True, timeout=300, env=env, cwd=repo,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(
        ln for ln in out.stdout.splitlines() if ln.startswith('{"metric": "shuffle_audit"')
    )
    rec = json.loads(line)["results"]["q177_exact_substring_dedup"]["engine"]
    assert rec["shuffleWriteBytes"] > 0
    assert rec["shuffleWriteRecords"] > 0
    assert rec["shuffleReadBytes"] >= rec["shuffleWriteBytes"]
    assert rec["wall_s"] > 0
    assert not list(tmp_path.glob("eventlog-*"))
