#!/usr/bin/env python
"""Task-distribution audit for the skew operators: MEASURED max/median
task time and shuffle-read bytes on the dominant exchange, engine vs
stock, at the bench contract AND in the forced-shuffle regime.

tests/test_skew.py pins the post-shuffle partition HISTOGRAM on rows
(plain keying: ~75% of the adversarial fixture in ONE partition;
salted: max partition ≈ hot/32). This script measures the same story
in the scheduler's own units — per-task time and shuffle-read bytes
from the successful tasks in Spark's event log (scripts/eventlog.py)
— over the stage that read the most shuffle bytes during each run.

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

Method: one run per (query, side, probe), each under its own job
group, read from the event log once the side's session has stopped —
task counts and bytes are deterministic per plan; task TIME is
single-run indicative (the max/median RATIO is the signal, not the
absolute). Engine: session.get_spark; stock:
measure_baseline.stock_builder. Confs are applied per-probe via
spark.conf (runtime-settable), same session per side.

Usage: python scripts/skew_audit.py [--queries q168_...,q173_...]
Prints a markdown table + one JSON line (recorded in BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

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


def dominant_stage(stages: list[dict]) -> dict | None:
    """The stage of a job group with the most shuffle-read bytes (the
    exchange consumer where key skew lands); None when the run had no
    shuffle read at all (fully broadcast plans). Pure — pytested."""
    best = max(stages, key=lambda s: s["shuffleReadBytes"], default=None)
    return best if best is not None and best["shuffleReadBytes"] > 0 else None


def skew_ratios(tasks: list[tuple[int, int]]) -> dict:
    """Reduce a stage's successful tasks, ``(run time ms, shuffle bytes
    read)`` each, to the audit's ratios. The median and max index the
    sorted values at ``min(floor(q·n), n−1)`` for q = 0.5 and 1.0, as
    Spark's taskSummary quantiles do. Pure — pytested."""
    mid = len(tasks) // 2
    run, rb = (sorted(col) for col in zip(*tasks))
    med_t, max_t = run[mid], run[-1]
    med_b, max_b = rb[mid], rb[-1]
    return {
        "task_time_med_ms": med_t,
        "task_time_max_ms": max_t,
        "task_time_max_over_med": round(max_t / med_t, 1) if med_t > 0 else None,
        "task_read_med_bytes": med_b,
        "task_read_max_bytes": max_b,
        "task_read_max_over_med": round(max_b / med_b, 1) if med_b > 0 else None,
    }


def _read(groups, side, walls, results) -> None:
    for (q, probe), wall in walls.items():
        key = f"{side}/{probe}"
        stages = groups[f"{key}:{q}"]["stages"]
        r = {
            "wall_s": round(wall, 2),
            "shuffle_read_total": eventlog.totals(stages)["shuffleReadBytes"],
            "dominant": None,  # fully broadcast: no shuffle-read stage
        }
        dom = dominant_stage(stages)
        if dom is not None:
            r["dominant"] = {
                "stage": dom["stage"],
                "num_tasks": dom["num_tasks"],
                "stage_read_bytes": dom["shuffleReadBytes"],
                **skew_ratios(dom["tasks"]),
            }
        results[q][key] = r
        print(f"{key:19s} {q}: {json.dumps(r)}", flush=True)


def _audit(spark, side, queries, run, walls) -> None:
    """Each (query, probe) once under the job group ``<side>/<probe>:<q>``."""
    sc = spark.sparkContext
    for q in queries:
        for probe, confs in PROBES.items():
            with _probe_confs(spark, confs):
                sc.setJobGroup(f"{side}/{probe}:{q}", q)
                t0 = time.perf_counter()
                run(q).collect()
                walls[(q, probe)] = time.perf_counter() - t0


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

    import measure_baseline as mb

    from apache_hadoop_framework_for_peptide_identification_spark.queries import REGISTRY
    from apache_hadoop_framework_for_peptide_identification_spark.session import get_spark

    results: dict[str, dict] = {q: {} for q in queries}
    with eventlog.event_log() as log_dir:
        spark = get_spark(app_name="skew-audit-engine")
        spark.sparkContext.setLogLevel("ERROR")
        REGISTRY[queries[0]].fn(spark, SF_DIR).collect()  # session warm-up
        walls: dict[tuple[str, str], float] = {}
        _audit(spark, "engine", queries, lambda q: REGISTRY[q].fn(spark, SF_DIR), walls)
        _read(eventlog.stop_and_read(spark, log_dir), "engine", walls, results)

        spark = mb.stock_builder("skew-audit-stock").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        getattr(mb, queries[0])(mb.tables(spark, SF_DIR)).collect()  # warm-up
        walls = {}
        _audit(spark, "stock", queries, lambda q: getattr(mb, q)(mb.tables(spark, SF_DIR)), walls)
        _read(eventlog.stop_and_read(spark, log_dir), "stock", walls, results)

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
