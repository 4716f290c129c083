"""Spark's event log as the one metrics source of the measurement scripts.

A script wraps its run in ``event_log()``, tags each measured run with a
job group (``sc.setJobGroup``), and calls ``stop_and_read`` in place of
``spark.stop()``. Reading after the session stopped sees every listener
event the run posted, so no reading can race Spark's asynchronous
listener bus, and nothing needs the Spark UI.

Attribution: a job counts toward the ``spark.jobGroup.id`` of its
``SparkListenerJobStart``; a stage attempt toward the group of its
``SparkListenerStageSubmitted``. Only stage attempts that completed
without a ``Failure Reason`` are kept, each ``(stage, attempt)`` once; a
retried attempt is its own entry, because it re-ran its tasks and their
bytes moved. Metrics missing from a stage's accumulables were zero.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import tempfile
from contextlib import contextmanager

# The audits' stage metrics, named as in Spark's REST StageData, from the
# StageCompleted accumulables that sum to them.
FIELDS = {
    "inputBytes": ("internal.metrics.input.bytesRead",),
    "shuffleWriteBytes": ("internal.metrics.shuffle.write.bytesWritten",),
    "shuffleWriteRecords": ("internal.metrics.shuffle.write.recordsWritten",),
    "shuffleReadBytes": (
        "internal.metrics.shuffle.read.localBytesRead",
        "internal.metrics.shuffle.read.remoteBytesRead",
    ),
    "memoryBytesSpilled": ("internal.metrics.memoryBytesSpilled",),
    "diskBytesSpilled": ("internal.metrics.diskBytesSpilled",),
}


@contextmanager
def event_log():
    """Make every session this process starts write an uncompressed event
    log into a new temporary directory, and delete the directory on exit.
    Enter it before the first session starts and stop the sessions inside
    it: the confs ride ``PYSPARK_SUBMIT_ARGS``, which is read once, when
    the JVM launches. Uncompressed because Spark 4.1 compresses the log with
    zstd by default, which the Python standard library cannot read."""
    log_dir = tempfile.mkdtemp(prefix="eventlog-")
    confs = [
        "spark.eventLog.enabled=true",
        "spark.eventLog.compress=false",
        f"spark.eventLog.dir=file://{log_dir}",
    ]
    args = " ".join(f"--conf {shlex.quote(c)}" for c in confs)
    prev = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} {prev}"
    try:
        yield log_dir
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


def log_files(log_dir: str, app_id: str) -> list[str]:
    """The application's log: one file, or the parts of a rolling
    ``eventlog_v2_<app>/events_N_*`` log in order."""
    single = os.path.join(log_dir, app_id)
    if os.path.exists(single):
        return [single]
    rolling = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    parts = [f for f in os.listdir(rolling) if f.startswith("events_")]
    return [os.path.join(rolling, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]


def parse(lines) -> dict[str | None, dict]:
    """Group an event log's JSON lines by job group:
    ``{group: {"jobs": n, "stages": [stage, ...]}}``. A stage is
    ``{"stage", "attempt", "num_tasks", <FIELDS>, "tasks"}``, where
    ``tasks`` holds ``(executor run time ms, shuffle bytes read)`` of each
    task of that attempt that ended in success."""
    groups: dict[str | None, dict] = {}
    submitted: dict[tuple[int, int], str | None] = {}
    completed: dict[tuple[int, int], dict] = {}
    tasks: dict[tuple[int, int], list[tuple[int, int]]] = {}

    def group(g):
        return groups.setdefault(g, {"jobs": 0, "stages": []})

    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group((e.get("Properties") or {}).get("spark.jobGroup.id"))["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
            submitted[key] = (e.get("Properties") or {}).get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                continue
            tm = e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
            tasks.setdefault(key, []).append((
                tm.get("Executor Run Time", 0),
                sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
            ))
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if "Failure Reason" in si:
                continue
            acc = {a["Name"]: a.get("Value", 0) for a in si.get("Accumulables", [])}
            completed[(si["Stage ID"], si.get("Stage Attempt ID", 0))] = {
                "num_tasks": si.get("Number of Tasks", 0),
                **{f: sum(int(acc.get(n, 0)) for n in names) for f, names in FIELDS.items()},
            }
    for key, stage in completed.items():
        stage.update(stage=key[0], attempt=key[1], tasks=tasks.get(key, []))
        group(submitted.get(key))["stages"].append(stage)
    return groups


def stop_and_read(spark, log_dir: str) -> dict[str | None, dict]:
    """Stop ``spark`` and return its event log grouped by ``parse``."""
    app_id = spark.sparkContext.applicationId
    spark.stop()

    def lines():
        for path in log_files(log_dir, app_id):
            with open(path, encoding="utf-8") as f:
                yield from f

    return parse(lines())


def totals(stages: list[dict]) -> dict[str, int]:
    """FIELDS summed over a job group's stages."""
    return {f: sum(s[f] for s in stages) for f in FIELDS}
