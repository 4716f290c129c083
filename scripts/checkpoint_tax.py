#!/usr/bin/env python
"""Durability-tax A/B for the checkpoint regimes — prices the fault
envelope docs/SCALE.md describes with measured numbers.

Runs two materializing forms at the sf0.1 shape under each regime
(local / replicated / reliable, set through the session conf
``spark.ahfpi.checkpointMode``) and reports wall time and the ratio
to local:

- ``dedup_mix_pack`` — the corpus-build finalizer; its two
  checkpoints hold the SMALL mid-pipeline survivors (keeper-reduced
  rows), so the regime tax should be near-zero: the durability bytes
  are keeper-sized, not corpus-sized.
- ``epoch_shuffle`` — the training-data global shuffle; its ONE
  checkpoint holds the whole projected frame (the documented
  corpus-sized exception), so this form bounds the tax from above:
  replicated pays a second in-memory copy of the ranked bytes,
  reliable pays a full DFS write + re-read of them.

Method: one UNMEASURED full pass over all three modes per form, then
a measured pass — a single local warm-up was measured to leave ~4x
of first-run warm-up bleed in whichever mode ran first (19.4s vs a
5s steady state on dedup_mix_pack), which would be misread as a
regime difference. The reliable checkpoint dir is a local tmpdir —
on a real cluster it is HDFS/S3, so treat the reliable row as a
LOWER bound on that regime's tax (local disk beats a network DFS
round-trip).

Usage: python scripts/checkpoint_tax.py [--sf-dir /root/testdata/sf0.1]
Prints a markdown table + one JSON line (recorded in BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_hadoop_framework_for_peptide_identification_spark.operators.reliability import (  # noqa: E402
    CONF,
    MODES,
)


def _docs(spark, sf_dir):
    from pyspark.sql import functions as F

    from apache_hadoop_framework_for_peptide_identification_spark.catalog import (
        load_table,
    )

    topic = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("news"))
        .when(F.col("doc_id") % 3 == 1, F.lit("blog"))
        .otherwise(F.lit("wiki"))
    )
    return load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("rec_id"),
        topic.alias("topic"),
        F.col("text").alias("clean_text"),
    )


def _mix_pack(spark, sf_dir):
    from apache_hadoop_framework_for_peptide_identification_spark.operators import (
        pipeline as P,
    )

    return P.dedup_mix_pack(
        _docs(spark, sf_dir),
        id_col="rec_id",
        topic_col="topic",
        text_col="clean_text",
        target_total=100,
        budget=512,
    )


def _epoch_shuffle(spark, sf_dir):
    """Narrow projection (id + text-length payload) — the docstring's
    standing advice; the checkpoint still holds every row."""
    from pyspark.sql import functions as F

    from apache_hadoop_framework_for_peptide_identification_spark.catalog import (
        load_table,
    )
    from apache_hadoop_framework_for_peptide_identification_spark.operators import (
        pipeline as P,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_chars")
    )
    return P.epoch_shuffle(d, "doc_id", epoch=1)


FORMS = {"dedup_mix_pack": _mix_pack, "epoch_shuffle": _epoch_shuffle}


def _count(spark, fn, sf_dir, mode) -> int:
    # the regime is read when the frame is built, so set it first
    spark.conf.set(CONF, mode)
    return fn(spark, sf_dir).count()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from apache_hadoop_framework_for_peptide_identification_spark.session import (
        get_spark,
    )

    from apache_hadoop_framework_for_peptide_identification_spark.queries._scratch import (
        _scratch_dir,
    )

    spark = get_spark("checkpoint-tax")
    spark.sparkContext.setCheckpointDir(_scratch_dir("ckpt_tax_"))

    results: dict[str, dict[str, float]] = {}
    for name, fn in FORMS.items():
        for mode in MODES:  # full unmeasured warm-up pass (module doc)
            _count(spark, fn, args.sf_dir, mode)
        times: dict[str, float] = {}
        for mode in MODES:
            t0 = time.perf_counter()
            n = _count(spark, fn, args.sf_dir, mode)
            times[mode] = round(time.perf_counter() - t0, 3)
            print(f"# {name} {mode}: {times[mode]:.2f}s ({n} rows)", flush=True)
        results[name] = times

    print("\n| form | local | replicated | reliable | repl/local | rel/local |")
    print("|---|---|---|---|---|---|")
    for name, t in results.items():
        print(
            f"| {name} | {t['local']:.2f}s | {t['replicated']:.2f}s "
            f"| {t['reliable']:.2f}s | {t['replicated'] / t['local']:.2f}x "
            f"| {t['reliable'] / t['local']:.2f}x |"
        )
    print(json.dumps({"metric": "checkpoint_tax", "sf_dir": args.sf_dir, "forms": results}))


if __name__ == "__main__":
    main()
