#!/usr/bin/env python
"""Capture `.explain("formatted")` for every headline bench query.

Usage:
    python scripts/capture_plans.py <outdir> [suffix] [query ...]

Writes <outdir>/<query>_<suffix>.txt (suffix defaults to "before").
The optimization judge reads these files instead of running Spark, so
they are committed verbatim (plans/r19/).

Since r19 the engine materializes multi-consumer frames with (mostly
lazy) ``localCheckpoint``, which replaces the logical plan with a
LogicalRDD at BUILD time — a plain explain of the query tail would
show only `Scan ExistingRDD` above each truncation point. To keep the
committed evidence honest, this script intercepts every
``localCheckpoint`` call made while building the query and records
the *input* plan of each materialization stage, then the final plan —
i.e. the full dataflow, decomposed exactly at the points where it
materializes (each stage executes ONCE; the final plan reads the
materialized rows).
"""

from __future__ import annotations

import os
import pathlib
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Spark 4: instances are the classic DataFrame subclass — patch THAT
# class, not the abstract pyspark.sql.DataFrame facade.
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from bench import HEADLINE  # noqa: E402
from apache_hadoop_framework_for_peptide_identification_spark.queries import (  # noqa: E402
    BENCH_REGISTRY,
    REGISTRY,
)
from apache_hadoop_framework_for_peptide_identification_spark.session import get_spark  # noqa: E402


def formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main() -> None:
    outdir = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "plans/r19")
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or HEADLINE
    outdir.mkdir(parents=True, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # 32 slots and shuffle partitions whatever the host: the committed
    # captures carry hashpartitioning(..., 32), so re-captures compare
    spark = get_spark(app_name="capture-plans", cpus=32)

    stages: list[str] = []
    orig_lc = DataFrame.localCheckpoint

    def recording_lc(self, eager=True, storageLevel=None):
        stages.append(formatted_plan(self))
        if storageLevel is None:
            return orig_lc(self, eager=eager)
        return orig_lc(self, eager=eager, storageLevel=storageLevel)

    DataFrame.localCheckpoint = recording_lc
    try:
        for name in names:
            fn = (REGISTRY.get(name) or BENCH_REGISTRY[name]).fn
            stages.clear()
            df = fn(spark, sf_dir)
            parts = [
                f"== Materialization stage {i + 1} (input plan of "
                f"localCheckpoint call #{i + 1}; executes once) ==\n{p}"
                for i, p in enumerate(stages)
            ]
            parts.append(
                "== Final plan (reads the materialized stages as "
                "ExistingRDD) ==\n" + formatted_plan(df)
            )
            (outdir / f"{name}_{suffix}.txt").write_text("\n\n".join(parts))
            print(f"wrote {name}_{suffix}.txt ({len(stages)} stage(s))")
    finally:
        DataFrame.localCheckpoint = orig_lc
    spark.stop()


if __name__ == "__main__":
    main()
