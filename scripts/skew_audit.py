#!/usr/bin/env python
"""Task-distribution audit for the skew operators: MEASURED max/median
task time and shuffle-read bytes on the dominant exchange, engine vs
stock, at the bench contract AND in the forced-shuffle regime.

tests/test_skew.py pins the post-shuffle partition HISTOGRAM on rows
(plain keying: ~75% of the adversarial fixture in ONE partition;
salted: max partition ≈ hot/32). This script measures the same story
in the scheduler's own units — per-task time and shuffle-read bytes
from the monitoring REST API's taskSummary endpoint — over the stage
that read the most shuffle bytes during each run.

Two probes per (query, side):
- contract: the bench configuration as-is. The recorded BASELINE.md
  expectation is that BOTH sides are flat here — the 1000-row dim
  broadcasts (no join shuffle to skew) and partial aggregation defuses
  the algebraic agg skew; the engine rows price the salting insurance.
- noBroadcast: spark.sql.autoBroadcastJoinThreshold=-1 (and its AQE
  twin) — the regime a 100 TB dimension actually lives in, where the
  join must shuffle. Labeled a REGIME PROBE, not a bench row: it
  models the non-broadcastable dim on the same adversarial fixture.
  AQE stays at each side's contract (on for both — Spark 4 default);
  the docstring claim under test is that AQE's skew split does NOT
  rescue the plain form at this scope (the hot partition sits under
  the 256 MB split threshold) while explicit salting bounds it.

Method: one run per (query, side, probe) — task counts and bytes are
deterministic per plan; task TIME is single-run indicative (the
max/median RATIO is the signal, not the absolute). Confs are applied
per-probe via spark.conf (runtime-settable), same session per side.

Usage: python scripts/skew_audit.py [--queries q168_...,q173_...]
Prints a markdown table + one JSON line (recorded in BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from shuffle_audit import sum_new_stages  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

QUERIES = ["q168_skew_adversarial_join", "q173_hot_key_two_path_join"]

PROBES = {
    # conf -> value per probe; None = leave the session contract alone
    "contract": {},
    "noBroadcast": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # At fixture scale AQE's 64 MB advisory target coalesces the
        # ENTIRE exchange into one task, which hides partition identity
        # altogether (one task reads everything whether keying is flat
        # or hot). At 100 TB a partition is orders of magnitude larger
        # than the advisory size and coalescing cannot merge a hot
        # partition away — 1 MB models that topology at this scope
        # while keeping AQE (and its skew-split rule) fully enabled.
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
    },
}


def dominant_stage(stages: list[dict], seen: set) -> dict | None:
    """The newly-completed stage with the most shuffle-read bytes (the
    exchange consumer where key skew lands); None when the run had no
    shuffle read at all (fully broadcast plans). Pure — pytested."""
    best = None
    for s in stages:
        if (s["stageId"], s.get("attemptId", 0)) in seen:
            continue
        if s.get("status") != "COMPLETE":
            continue
        if best is None or s.get("shuffleReadBytes", 0) > best.get("shuffleReadBytes", 0):
            best = s
    if best is not None and best.get("shuffleReadBytes", 0) == 0:
        return None
    return best


def skew_ratios(summary: dict) -> dict:
    """Reduce a taskSummary quantile response (quantiles 0/0.5/1.0) to
    the audit's ratios. Pure — pytested. ``readBytes`` is the REST
    API's local+remote total (verified live against Spark 4.1)."""
    run = summary["executorRunTime"]
    srm = summary.get("shuffleReadMetrics", {})
    rb = srm.get("readBytes", [0] * len(run))
    med_t, max_t = run[1], run[2]
    med_b, max_b = rb[1], rb[2]
    return {
        "task_time_med_ms": round(med_t, 1),
        "task_time_max_ms": round(max_t, 1),
        "task_time_max_over_med": round(max_t / med_t, 1) if med_t > 0 else None,
        "task_read_med_bytes": int(med_b),
        "task_read_max_bytes": int(max_b),
        "task_read_max_over_med": round(max_b / med_b, 1) if med_b > 0 else None,
    }


class _Rest:
    def __init__(self, spark) -> None:
        ui = spark.sparkContext.uiWebUrl
        if not ui:
            raise RuntimeError("skew_audit needs spark.ui.enabled=true")
        app = spark.sparkContext.applicationId
        self._base = f"{ui}/api/v1/applications/{app}"
        self._seen: set = set()

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._base}{path}", timeout=30) as r:
            return json.load(r)

    def stages(self) -> list[dict]:
        return self._get("/stages?status=complete")

    def snapshot(self) -> None:
        # settle-poll, not a single fetch: the listener bus is async and
        # a warm-up stage landing a beat later would be mis-attributed
        # to the first probe (code-review r15 finding)
        prev = None
        settled = False
        for _ in range(20):
            totals, ids = sum_new_stages(self.stages(), self._seen)
            if prev == totals:
                settled = True
                break
            prev = totals
            time.sleep(0.25)
        if not settled:
            print(
                "skew_audit: WARNING — pre-probe stage totals did not settle; "
                "late-landing stages may be mis-attributed to the next probe",
                flush=True,
            )
        self._seen = ids

    def audit_run(self, fn) -> dict:
        self.snapshot()
        t0 = time.perf_counter()
        fn().collect()
        wall = time.perf_counter() - t0
        # listener bus is async: poll until the stage set settles
        prev = None
        settled = False
        for _ in range(20):
            stages = self.stages()
            totals, ids = sum_new_stages(stages, self._seen)
            if prev == totals:
                settled = True
                break
            prev = totals
            time.sleep(0.25)
        dom = dominant_stage(stages, self._seen)
        self._seen = ids
        out = {"wall_s": round(wall, 2), "shuffle_read_total": totals["shuffleReadBytes"]}
        if not settled:
            # visible in the console AND the recorded JSON (ADVICE r15)
            print(
                "skew_audit: WARNING — stage totals did not settle within the "
                "poll budget; this probe's bytes are a lower bound",
                flush=True,
            )
            out["unsettled"] = True
        if dom is None:
            out["dominant"] = None  # fully broadcast: no shuffle-read stage
            return out
        summ = self._get(
            f"/stages/{dom['stageId']}/{dom.get('attemptId', 0)}/taskSummary"
            "?quantiles=0.0,0.5,1.0"
        )
        out["dominant"] = {
            "stage": dom["stageId"],
            "num_tasks": dom.get("numTasks"),
            "stage_read_bytes": dom.get("shuffleReadBytes", 0),
            **skew_ratios(summ),
        }
        return out


@contextmanager
def _probe_confs(spark, confs: dict):
    """Apply probe confs for one run and restore the pre-probe values
    afterwards. Honesty note (code-review r15): ``conf.get`` cannot
    distinguish an explicitly-set conf from a resolved default — it
    returns the fallback value for keys like
    spark.sql.adaptive.autoBroadcastJoinThreshold rather than raising
    — so restore PINS each key to its pre-probe snapshot instead of
    unsetting it. Equivalent to true fallback as long as the base conf
    doesn't change mid-session (this script never changes it outside
    a probe); a future probe that varies the base threshold must
    restore the adaptive twin itself."""
    orig: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            orig[k] = spark.conf.get(k)
        except Exception:
            orig[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, ov in orig.items():
            if ov is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, ov)


def _fmt_b(n) -> str:
    if n is None:
        return "—"
    if n >= 1 << 20:
        return f"{n / (1 << 20):.1f} MiB"
    if n >= 1 << 10:
        return f"{n / (1 << 10):.1f} KiB"
    return f"{n} B"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None)
    args = ap.parse_args()
    queries = args.queries.split(",") if args.queries else QUERIES
    unknown = [q for q in queries if q not in QUERIES]
    if unknown:
        sys.exit(f"skew_audit: unknown queries {unknown} — valid: {QUERIES}")

    from pyspark.sql import SparkSession

    from apache_hadoop_framework_for_peptide_identification_spark.queries import REGISTRY
    from apache_hadoop_framework_for_peptide_identification_spark.session import (
        RUNTIME_CONFS,
        configure,
        default_cpus,
    )

    cpus = str(default_cpus())
    results: dict[str, dict] = {q: {} for q in queries}

    def _builder(name):
        return (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName(name)
            .config("spark.sql.shuffle.partitions", cpus)
            .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
            .config("spark.ui.enabled", "true")
            .config("spark.ui.showConsoleProgress", "false")
        )

    # ------------------------------------------------ engine session
    b = _builder("skew-audit-engine").config(
        "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    configure(spark)
    rest = _Rest(spark)
    REGISTRY[queries[0]].fn(spark, SF_DIR).collect()  # session warm-up
    for q in queries:
        for probe, confs in PROBES.items():
            with _probe_confs(spark, confs):
                r = rest.audit_run(lambda q=q: REGISTRY[q].fn(spark, SF_DIR))
            results[q][f"engine/{probe}"] = r
            print(f"engine/{probe:12s} {q}: {json.dumps(r)}", flush=True)
    spark.stop()

    # ------------------------------------------------- stock session
    import measure_baseline as mb

    spark = (
        _builder("skew-audit-stock")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    rest = _Rest(spark)
    getattr(mb, queries[0])(mb.tables(spark, SF_DIR)).collect()  # warm-up
    for q in queries:
        for probe, confs in PROBES.items():
            fn = getattr(mb, q)
            with _probe_confs(spark, confs):
                r = rest.audit_run(lambda fn=fn: fn(mb.tables(spark, SF_DIR)))
            results[q][f"stock/{probe}"] = r
            print(f"stock/{probe:13s} {q}: {json.dumps(r)}", flush=True)
    spark.stop()

    print(
        "\n| query | side/probe | wall (s) | dominant stage read | tasks | "
        "task read max/med | task time max/med |"
    )
    print("|---|---|---|---|---|---|---|")
    for q in queries:
        for key, r in results[q].items():
            d = r.get("dominant")
            if d is None:
                print(
                    f"| {q} | {key} | {r['wall_s']:.2f} | no shuffle-read stage "
                    "(broadcast plan) | — | — | — |"
                )
                continue
            print(
                f"| {q} | {key} | {r['wall_s']:.2f} | {_fmt_b(d['stage_read_bytes'])} | "
                f"{d['num_tasks']} | "
                f"{_fmt_b(d['task_read_max_bytes'])}/{_fmt_b(d['task_read_med_bytes'])} "
                f"({d['task_read_max_over_med']}×) | "
                f"{d['task_time_max_ms']:.0f}/{d['task_time_med_ms']:.0f} ms "
                f"({d['task_time_max_over_med']}×) |"
            )
    print(json.dumps({"metric": "skew_audit", "sf_dir": SF_DIR, "results": results}))


if __name__ == "__main__":
    main()
