#!/usr/bin/env python
"""Scaling-exponent sweep for the five heaviest operators (r14 —
VERDICT r13 item 2: turn "no quadratic term by construction" into a
measured exponent). Runs the ENGINE forms (registry q121 / q177 /
q182 / q164 + bench q67) and their STOCK-Spark twins
(scripts/measure_baseline.py, no engine operators) over the
self-similar .scaledata fixtures (gen_scale_fixtures.py: x1 = the
sf0.1 shape, x3, x10) and reports per-query wall time at every scope
plus the fitted exponent a in T ~ N^a between the two largest scopes
measured.

Scope policy (wall-clock honesty, not a silent cap — each skip is
printed): engine forms run x1 -> x3 -> x10; stock forms run x1 -> x3
and then x10 ONLY if the x3 reading projects under
--stock-budget seconds (default 180) at the x3->x10 exponent; the
known-quadratic stock q164 starts at x03 so its exponent comes from
x03 -> x1 -> (x3 if it fits). Exponents from different spans are
labeled with their span.

Method: one warm-up collect at the smallest scope per (form, query),
then a single measured collect per scope (best-of is wasted here —
the exponent divides two readings taken seconds apart in one
session; +-10% noise moves a 10x exponent by ~0.04). Engine and
stock run in SEPARATE sessions with their own contracts (engine:
session.get_spark with the runtime confs; stock:
measure_baseline.stock_builder), sequentially in one process.

Usage: python scripts/scale_sweep.py [--stock-budget 180]
         [--queries q121_prefix_jaccard_corpus,...] [--scales x1,x3,x10]
         [--engine-only]
(r15: --queries/--scales/--engine-only run fixture-regime probes —
e.g. `make heaps-sweep` measures q121 over the Heaps'-law hx*
fixtures; the budgeted extra stock scope runs under a hard
wall-clock kill at 2x budget, ADVICE r14.)
Prints a markdown table + one JSON line (recorded in BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(REPO, ".scaledata")

QUERIES = [
    "q121_prefix_jaccard_corpus",
    "q177_exact_substring_dedup",
    "q182_sliding_substring_dedup",
    "q164_shared_span_pairs",
    "q67_embedding_neardup_lsh",
]
STOCK_NAMES = {  # measure_baseline fn name per query
    "q67_embedding_neardup_lsh": "q67_embedding_neardup",
}


def _dedup_mix_pack_form(spark, data_dir):
    """Engine-only exponent form for the registered q201 downstream
    (r18): the full dedup_mix_pack composition — NFC → normalize →
    exact-hash keeper reduction → MinHash-LSH near-dup → temperature
    mixing → packing — over the scale fixture's documents table
    (doc_id mod 3 as the topic strata). target_total is fixed, so the
    measured growth is the ladder + near-dup cost, which the banded
    design holds near-linear; there is no stock twin (composition
    form — the byte/exponent shape IS the claim, the ivfpq_query_prod
    convention)."""
    from pyspark.sql import functions as F

    from apache_hadoop_framework_for_peptide_identification_spark.catalog import load_table
    from apache_hadoop_framework_for_peptide_identification_spark.operators import (
        pipeline as P,
    )

    topic = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("news"))
        .when(F.col("doc_id") % 3 == 1, F.lit("blog"))
        .otherwise(F.lit("wiki"))
    )
    d = load_table(spark, data_dir, "documents").select(
        F.col("doc_id").alias("rec_id"), topic.alias("topic"),
        F.col("text").alias("clean_text"),
    )
    return P.dedup_mix_pack(
        d, id_col="rec_id", topic_col="topic", text_col="clean_text",
        target_total=100, budget=512,
    )


# Engine-only composition forms with no registry entry / stock twin:
# name -> fn(spark, data_dir) -> DataFrame (collected by the sweep).
CUSTOM_FORMS = {"dedup_mix_pack": _dedup_mix_pack_form}
SCALE_N = {
    "x03": 0.3, "x1": 1.0, "x3": 3.0, "x10": 10.0,
    # Heaps'-law fixtures (gen_scale_fixtures hx*: vocab ~ N^0.5) —
    # same row multipliers, df-bounded shingle space
    "hx1": 1.0, "hx3": 3.0, "hx10": 10.0,
}


def _expo(times: dict[str, float]) -> tuple[str, float] | None:
    """Exponent over the two LARGEST measured scopes: a = log(T2/T1)/log(N2/N1).
    None when fewer than two scopes were measured or the two largest
    share a row multiplier (e.g. x1 vs hx1 — no N ratio to fit)."""
    scopes = sorted(times, key=lambda s: SCALE_N[s])
    if len(scopes) < 2:
        return None
    s1, s2 = scopes[-2], scopes[-1]
    if SCALE_N[s2] == SCALE_N[s1]:
        return None
    a = math.log(times[s2] / times[s1]) / math.log(SCALE_N[s2] / SCALE_N[s1])
    return f"{s1}->{s2}", a


def _run(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args).collect()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stock-budget", type=float, default=180.0)
    ap.add_argument(
        "--queries", default=None,
        help="comma-separated subset of the default query list",
    )
    ap.add_argument(
        "--scales", default="x1,x3,x10",
        help="comma-separated engine scopes (e.g. hx1,hx3,hx10 for the "
        "Heaps'-law fixtures)",
    )
    ap.add_argument(
        "--engine-only", action="store_true",
        help="skip the stock-Spark twin session (fixture-regime probes)",
    )
    args = ap.parse_args()

    queries = args.queries.split(",") if args.queries else QUERIES
    valid = QUERIES + [q for q in CUSTOM_FORMS if q not in QUERIES]
    unknown = [q for q in queries if q not in valid]
    if unknown:
        sys.exit(f"scale_sweep: unknown queries {unknown} — valid: {valid}")
    if not args.engine_only and any(q in CUSTOM_FORMS for q in queries):
        sys.exit("scale_sweep: CUSTOM_FORMS are engine-only — pass --engine-only")
    engine_scopes = args.scales.split(",")
    bad = [s for s in engine_scopes if s not in SCALE_N]
    if bad:
        sys.exit(f"scale_sweep: unknown scales {bad} — valid: {list(SCALE_N)}")

    results: dict[str, dict[str, dict[str, float]]] = {q: {"engine": {}, "stock": {}} for q in queries}
    notes: list[str] = []

    # ------------------------------------------------ engine session
    from apache_hadoop_framework_for_peptide_identification_spark.queries import (
        BENCH_REGISTRY,
        REGISTRY,
    )
    from apache_hadoop_framework_for_peptide_identification_spark.session import get_spark

    spark = get_spark("scale-sweep-engine")
    for q in queries:
        if q in CUSTOM_FORMS:
            fn = CUSTOM_FORMS[q]
        else:
            fn = (REGISTRY.get(q) or BENCH_REGISTRY[q]).fn
        fn(spark, os.path.join(DATA, engine_scopes[0])).collect()  # warm-up
        for scope in engine_scopes:
            sec = _run(fn, spark, os.path.join(DATA, scope))
            results[q]["engine"][scope] = round(sec, 3)
            print(f"engine {q} {scope}: {sec:.2f} s", flush=True)
    spark.stop()

    if args.engine_only:
        _report(queries, results, notes)
        return

    # ------------------------------------------------- stock session
    import measure_baseline as mb

    spark = mb.stock_builder("scale-sweep-stock").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # the job group _run_budgeted cancels at its wall
    spark.sparkContext.setJobGroup("scale-sweep-stock", "stock scopes", True)
    for q in queries:
        fn = getattr(mb, STOCK_NAMES.get(q, q))
        scopes = ["x03", "x1"] if q == "q164_shared_span_pairs" else ["x1", "x3"]
        fn(mb.tables(spark, os.path.join(DATA, scopes[0]))).collect()  # warm-up
        for scope in scopes:
            sec = _run(lambda d: fn(mb.tables(spark, d)), os.path.join(DATA, scope))
            results[q]["stock"][scope] = round(sec, 3)
            print(f"stock  {q} {scope}: {sec:.2f} s", flush=True)
        # one more scope if the projection fits the budget. The
        # projection raises sub-linear readings to linear and keeps
        # super-linear ones as measured; the REAL enforcement (ADVICE
        # r14: one noisy-low x3 reading on a genuinely quadratic form
        # can project under budget) is the hard wall-clock kill below —
        # the extra scope is cancelled at 2x budget and recorded as
        # aborted, never silently run to completion.
        nxt = {"x1": "x3", "x3": "x10"}[scopes[-1]]
        span_a = _expo(results[q]["stock"])
        if span_a is not None:
            proj = results[q]["stock"][scopes[-1]] * (
                SCALE_N[nxt] / SCALE_N[scopes[-1]]
            ) ** max(span_a[1], 1.0)
            if proj <= args.stock_budget:
                sec, aborted = _run_budgeted(
                    spark,
                    lambda d: fn(mb.tables(spark, d)),
                    os.path.join(DATA, nxt),
                    2.0 * args.stock_budget,
                )
                if aborted:
                    notes.append(
                        f"stock {q} {nxt} ABORTED at the {2.0 * args.stock_budget:.0f}s "
                        f"hard wall (projection {proj:.0f}s was under budget — "
                        "the noisy-low-exponent case the wall exists for)"
                    )
                else:
                    results[q]["stock"][nxt] = round(sec, 3)
                    print(f"stock  {q} {nxt}: {sec:.2f} s", flush=True)
            else:
                notes.append(
                    f"stock {q} skipped {nxt}: projected {proj:.0f}s "
                    f"> budget {args.stock_budget:.0f}s at measured exponent "
                    f"{span_a[1]:.2f}"
                )
    spark.stop()
    _report(queries, results, notes)


def _run_budgeted(spark, fn, d, wall: float) -> tuple[float, bool]:
    """Run one collect under a hard wall-clock kill: a watchdog thread
    cancels the caller's job group at ``wall`` seconds (the caller sets
    it with interruptOnCancel), so a mis-projected scope costs at most
    the wall, not an unbounded quadratic run. The group is left as the
    caller set it, so its jobs stay attributed to it. Returns (elapsed,
    aborted). Only a failure AFTER the watchdog actually fired counts
    as an abort — any other exception (missing fixture dir, analysis
    error, OOM) re-raises, so a genuine failure is never misreported as
    a wall-clock kill."""
    import threading

    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    if group is None:
        raise ValueError("_run_budgeted cancels the caller's job group: set one first")
    ev = threading.Event()
    fired = threading.Event()

    def killer() -> None:
        if not ev.wait(wall):
            fired.set()
            sc.cancelJobGroup(group)

    th = threading.Thread(target=killer, daemon=True)
    th.start()
    t0 = time.perf_counter()
    try:
        fn(d).collect()
        return time.perf_counter() - t0, False
    except Exception:
        if fired.is_set():
            return time.perf_counter() - t0, True
        raise
    finally:
        ev.set()


def _report(queries, results, notes) -> None:
    print("\n| query | engine scopes (s) | engine exp | stock scopes (s) | stock exp |")
    print("|---|---|---|---|---|")
    summary = {}
    for q in queries:
        e, s = results[q]["engine"], results[q]["stock"]
        ee, se = _expo(e), _expo(s)
        etimes = "/".join(
            f"{e[k]:.1f}" for k in sorted(e, key=lambda kk: SCALE_N[kk])
        )
        stimes = ", ".join(
            f"{k}={v:.1f}" for k, v in sorted(s.items(), key=lambda kv: SCALE_N[kv[0]])
        )
        erow = f"{ee[1]:.2f} ({ee[0]})" if ee else "—"
        srow = f"{se[1]:.2f} ({se[0]})" if se else "—"
        print(f"| {q} | {etimes} | {erow} | {stimes or '—'} | {srow} |")
        summary[q] = {
            "engine": e,
            "stock": s,
            "engine_exp": round(ee[1], 3) if ee else None,
            "engine_span": ee[0] if ee else None,
            "stock_exp": round(se[1], 3) if se else None,
            "stock_span": se[0] if se else None,
        }
    for n in notes:
        print("NOTE:", n)
    print(json.dumps({"metric": "scale_sweep", "results": summary, "notes": notes}))


if __name__ == "__main__":
    main()
