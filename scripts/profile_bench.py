#!/usr/bin/env python
"""Per-query bench profiler (guide §1): times each headline query with
the noop sink (computation only, no collect-to-driver) AND with the
bench's collect(), and counts the Spark jobs each query launches,
read from Spark's event log (scripts/eventlog.py) once the session
has stopped.

Job count matters at this scale: every extra action (sizing count,
localCheckpoint materialization, centroid collect) pays fixed
scheduling latency that dominates sub-second queries and serializes
cluster work at 100 TB.

Usage: python scripts/profile_bench.py [query ...]   (default: all)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402
from bench import HEADLINE  # noqa: E402
from apache_hadoop_framework_for_peptide_identification_spark.queries import (  # noqa: E402
    BENCH_REGISTRY,
    REGISTRY,
)
from apache_hadoop_framework_for_peptide_identification_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = {}
    with eventlog.event_log() as log_dir:
        spark = get_spark(app_name="profile-bench")
        sc = spark.sparkContext
        for name in names:
            fn = (REGISTRY.get(name) or BENCH_REGISTRY[name]).fn
            sc.setJobGroup(f"profile:{name}:warmup", f"profile:{name} warm-up")
            fn(spark, sf_dir).collect()  # warm-up
            sc.setJobGroup(f"profile:{name}:timed", f"profile:{name}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            t_collect = time.perf_counter() - t0
            sc.setJobGroup(f"profile:{name}:noop", f"profile:{name} noop")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            t_noop = time.perf_counter() - t0
            out[name] = {"collect_s": round(t_collect, 4), "noop_s": round(t_noop, 4)}
        groups = eventlog.stop_and_read(spark, log_dir)
    for name in names:
        out[name]["jobs"] = groups[f"profile:{name}:timed"]["jobs"]
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
