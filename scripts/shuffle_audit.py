#!/usr/bin/env python
"""Data-movement audit: MEASURED shuffle/scan/spill bytes, engine vs stock.

Every "text never crosses the shuffle" / "detection ships 16-byte
hashes" claim in BASELINE.md and docs/SCALE.md has so far been proven
structurally (plan pins: exchange inputs projected to hash+id columns,
tests/test_plans.py). This script turns those pins into MEASURED bytes,
the way scripts/scale_sweep.py turned "no quadratic term" into measured
exponents: run each heavy query once per side and read the per-stage
executor metrics (shuffle write/read bytes+records, input bytes, memory
+disk spill) from Spark's event log (scripts/eventlog.py), read once
the session has stopped.

Reading the input column: Spark's task inputMetrics count BOTH file
scans and cached/localCheckpointed BLOCK reads — a query that buys a
posting index once and reads it from executor memory four times
reports ~4× the index size as "input" while touching the source
parquet once (verified: q121's operator at sf0.01 reads 20.1 MB of
input with its posting index materialized and 34 KB — pure file scans
— with the materialization removed). The column is therefore labeled "input
(file+cache)"; per-file source bytes at sf0.1 are sub-MiB for every
table involved.

Method: engine and stock run in SEPARATE sequential sessions (engine:
session.get_spark; stock: measure_baseline.stock_builder) in one
process, both writing Spark's event log. Per query: run ONE collect()
under its own job group, then, once the session has stopped, sum the
metrics of the group's completed stage attempts. Bytes are
deterministic per plan — no best-of-N needed (unlike wall time); the
wall column here is a single-run courtesy reading, not the bench.
Skipped stages (AQE reused exchanges) are never submitted, so they
execute no tasks and add nothing. Stock runs are wrapped in the
scale_sweep hard wall-clock kill (default 420 s) so a mis-sized stock
scope costs at most the wall; a kill is printed and recorded as
aborted, never silent.

Usage: python scripts/shuffle_audit.py [--queries q177_...,q182_...]
         [--stock-wall 420] [--engine-only] [--bench]
--bench sweeps EVERY bench.py headliner engine-only in one session —
the "no silent spill" regression surface: one table ranking queries
by shuffle write with a spill column that should read zero everywhere
at the bench scale (any nonzero reading means a new operator outgrew
its partition sizing and BASELINE.md's spill claim needs re-auditing).
Prints a markdown table + one JSON line (recorded in BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Claim-bearing pairs: each has a stock twin in measure_baseline.py and
# a byte-shape claim on record (BASELINE.md rows / test_plans pins).
QUERIES = [
    "q177_exact_substring_dedup",
    "q182_sliding_substring_dedup",
    "q121_prefix_jaccard_corpus",
    "q164_shared_span_pairs",
    "q67_embedding_neardup_lsh",
    "q42_dedup_minhash_lsh",
    "q195_dedup_ladder_e2e",
    # second tier (byte-exponent runs on the .scaledata fixtures)
    "q83_repetition_filter",
    "q100_paragraph_dedup",
    "q106_textrank_keywords",
    "q165_containment_prefix_corpus",
    # composed-ANN tier (byte-exponent runs on the .scaledata fixtures)
    "ivfpq_query_prod",
]
# None = no stock twin exists (composition queries): engine-only row —
# the byte shape is the claim (keeper exchange ships hashes, not text).
STOCK_NAMES = {
    "q67_embedding_neardup_lsh": "q67_embedding_neardup",
    "q42_dedup_minhash_lsh": "q42_minhash_lsh",
    "q195_dedup_ladder_e2e": None,
    "ivfpq_query_prod": None,
    "minhash_verify_md5": None,
    "minhash_verify_md5_hient": None,
}


def _ivfpq_prod_form(spark):
    """Composed-tier audit form (r17 — VERDICT r16 item 4: ivfpq_query
    joins the byte-exponent table the way the other ANN tiers did):
    the PRODUCTION ivfpq_query path at the recall-curve knobs (16
    cells, m=8, n_probe=4, candidate_frac=0.025 — docs/SCALE.md's
    IVFPQ sweep row), 50 query vectors. Index build + corpus encode
    run OUTSIDE the measured window (localCheckpoint materializes the
    postings first, exactly how a production index is read back from
    parquet) — the byte claim under audit is the QUERY path's
    candidate shuffle, which the candidate_frac rule holds linear in
    the corpus. Returns the measured-window run callable."""
    from pyspark.sql import functions as F

    from apache_hadoop_framework_for_peptide_identification_spark.catalog import (
        load_table,
    )
    from apache_hadoop_framework_for_peptide_identification_spark.operators import (
        similarity as S,
    )

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    enc, cents, cb = S.build_ivfpq_index(
        emb, "vec_id", "embedding", n_cells=16, m=8, n_codes=16
    )
    enc = enc.localCheckpoint()
    q = emb.filter(F.col("vec_id") < 50)

    def run():
        S.ivfpq_query(
            q, enc, cents, cb, emb, "vec_id", "embedding",
            k=10, n_probe=4, candidate_frac=0.025, corpus_rows=n,
        ).collect()
        return False

    return run


def _minhash_verify_form(high_entropy=False):
    """Shuffled bytes of minhash_jaccard_pairs' verify join (r18 — the
    q121/q165 measured-bytes treatment): the FULL pipeline (banded
    candidates + exact-Jaccard verify) over the sf0.1 documents
    corpus, whose verify postings are 16-byte md5s (BASELINE.md r18
    records the A/B against raw-string postings). Broadcast joins are
    disabled INSIDE the measured window: at this fixture scope the
    posting sides fit the session's 64 MiB broadcast threshold and
    the posting width would never touch a shuffle — at corpus scale
    they cannot broadcast, and the shuffled plan is the shape the md5
    claim is about."""

    def form(spark):
        from pyspark.sql import functions as F

        from apache_hadoop_framework_for_peptide_identification_spark.catalog import (
            load_table,
        )
        from apache_hadoop_framework_for_peptide_identification_spark.operators import (
            dedup,
        )

        d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
        if high_entropy:
            # 40 tokens of 32 incompressible hex chars per doc — the
            # real-text regime where raw shingles neither compress nor
            # fit under 16 bytes (the q121 A/B's 0.57x direction)
            d = d.select(
                "doc_id",
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sequence(F.lit(1), F.lit(40)),
                        lambda i: F.md5(F.concat(F.col("doc_id"), i)),
                    ),
                ).alias("text"),
            )

        def run():
            thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                dedup.minhash_jaccard_pairs(
                    d, "doc_id", "text", threshold=0.5,
                    num_hashes=64, bands=16, shingle_n=3,
                ).collect()
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
            return False

        return run

    return form


# Non-registry audit forms: name -> fn(spark) doing any un-audited
# setup (index builds) and returning the measured-window callable.
CUSTOM_FORMS = {
    "ivfpq_query_prod": _ivfpq_prod_form,
    "minhash_verify_md5": _minhash_verify_form(),
    "minhash_verify_md5_hient": _minhash_verify_form(high_entropy=True),
}

def _fmt_bytes(n: int) -> str:
    if n >= 1 << 20:
        return f"{n / (1 << 20):.1f} MiB"
    if n >= 1 << 10:
        return f"{n / (1 << 10):.1f} KiB"
    return f"{n} B"


def _audit_one(sc, side, q, run, runs) -> None:
    """One measured run under the job group ``<side>:<q>``; jobs after it
    (the next form's set-up) fall into an unmeasured group."""
    sc.setJobGroup(f"{side}:{q}", q, True)
    t0 = time.perf_counter()
    aborted = run()
    runs[q] = (time.perf_counter() - t0, aborted)
    sc.setJobGroup("unmeasured", "")


def _read(groups, side, runs, results) -> None:
    for q, (wall, aborted) in runs.items():
        d = eventlog.totals(groups[f"{side}:{q}"]["stages"])
        d["wall_s"] = round(wall, 2)
        if aborted:
            d["aborted"] = True
        results[q][side] = d
        print(
            f"{side:6s} {q}: wall {wall:.2f} s, input {_fmt_bytes(d['inputBytes'])}, "
            f"shuffle write {_fmt_bytes(d['shuffleWriteBytes'])} "
            f"({d['shuffleWriteRecords']:,} rows), read {_fmt_bytes(d['shuffleReadBytes'])}, "
            f"spill {_fmt_bytes(d['memoryBytesSpilled'] + d['diskBytesSpilled'])}"
            + (" [ABORTED AT WALL — bytes are a lower bound]" if aborted else ""),
            flush=True,
        )


def _sessions(args, queries, results, log_dir) -> None:
    from apache_hadoop_framework_for_peptide_identification_spark.queries import (
        BENCH_REGISTRY,
        REGISTRY,
    )
    from apache_hadoop_framework_for_peptide_identification_spark.session import get_spark

    # ------------------------------------------------ engine session
    spark = get_spark(app_name="shuffle-audit-engine")
    spark.sparkContext.setLogLevel("ERROR")
    runs: dict[str, tuple[float, bool]] = {}
    # Session warm-up (first-query JIT/codegen noise) on a query OUTSIDE
    # the audit set, in no measured job group.
    REGISTRY["q40_dedup_exact"].fn(spark, SF_DIR).collect()
    for q in queries:
        if q in CUSTOM_FORMS:
            # setup (index build/encode) runs outside the query's job
            # group, so its stages never enter the measured window
            _audit_one(spark.sparkContext, "engine", q, CUSTOM_FORMS[q](spark), runs)
            continue
        qd = REGISTRY.get(q) or BENCH_REGISTRY[q]
        _audit_one(
            spark.sparkContext, "engine", q,
            lambda qd=qd: (qd.fn(spark, SF_DIR).collect(), False)[1],
            runs,
        )
    _read(eventlog.stop_and_read(spark, log_dir), "engine", runs, results)

    if args.engine_only:
        return
    # ------------------------------------------------- stock session
    import measure_baseline as mb
    from scale_sweep import _run_budgeted

    spark = mb.stock_builder("shuffle-audit-stock").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    runs = {}
    mb.q40_dedup_exact(mb.tables(spark, SF_DIR)).collect()  # warm-up
    for q in queries:
        stock_name = STOCK_NAMES.get(q, q)
        if stock_name is None:
            print(f"stock  {q}: no stock twin (composition query) — engine-only row", flush=True)
            continue
        fn = getattr(mb, stock_name)
        _audit_one(
            spark.sparkContext, "stock", q,
            lambda fn=fn: _run_budgeted(
                spark, lambda d: fn(mb.tables(spark, d)), SF_DIR, args.stock_wall,
            )[1],
            runs,
        )
    _read(eventlog.stop_and_read(spark, log_dir), "stock", runs, results)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None)
    ap.add_argument("--stock-wall", type=float, default=420.0)
    ap.add_argument("--engine-only", action="store_true")
    ap.add_argument("--bench", action="store_true",
                    help="sweep every bench.py headliner engine-only "
                         "(implies --engine-only; mutually exclusive with "
                         "--queries)")
    args = ap.parse_args()

    if args.bench and args.queries:
        # --bench used to silently discard an explicit --queries list and
        # run the full headliner sweep instead (ADVICE r15): error out so
        # the stock comparison the user asked for is never silently skipped.
        ap.error("--bench sweeps every headliner and cannot be combined with "
                 "--queries — drop one of the two flags")

    if args.bench:
        import bench as bench_mod

        queries = list(bench_mod.HEADLINE)
        args.engine_only = True
    else:
        queries = args.queries.split(",") if args.queries else QUERIES
        valid = QUERIES + [q for q in CUSTOM_FORMS if q not in QUERIES]
        unknown = [q for q in queries if q not in valid]
        if unknown:
            sys.exit(f"shuffle_audit: unknown queries {unknown} — valid: {valid}")

    results: dict[str, dict[str, dict]] = {q: {} for q in queries}

    with eventlog.event_log() as log_dir:
        _sessions(args, queries, results, log_dir)

    if args.bench:
        # rank by shuffle write; lead with the sweep's one-line verdict
        queries = sorted(
            queries,
            key=lambda q: -results[q]["engine"]["shuffleWriteBytes"],
        )
        spilled = [
            q for q in queries
            if results[q]["engine"]["memoryBytesSpilled"]
            + results[q]["engine"]["diskBytesSpilled"] > 0
        ]
        print(
            f"\nSPILL SWEEP: {len(spilled)}/{len(queries)} headliners spilled"
            + (f" — {spilled}" if spilled else " (all in-memory at this scale)")
        )
    print(
        "\n| query | side | wall (s) | input (file+cache) | shuffle write | shuffle rows "
        "| shuffle read | spill |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for q in queries:
        for side in ("engine", "stock"):
            if side not in results[q]:
                continue
            d = results[q][side]
            ab = " (ABORTED)" if d.get("aborted") else ""
            print(
                f"| {q} | {side}{ab} | {d['wall_s']:.2f} | "
                f"{_fmt_bytes(d['inputBytes'])} | "
                f"{_fmt_bytes(d['shuffleWriteBytes'])} | "
                f"{d['shuffleWriteRecords']:,} | "
                f"{_fmt_bytes(d['shuffleReadBytes'])} | "
                f"{_fmt_bytes(d['memoryBytesSpilled'] + d['diskBytesSpilled'])} |"
            )
    print(json.dumps({"metric": "shuffle_audit", "sf_dir": SF_DIR, "results": results}))


if __name__ == "__main__":
    main()
