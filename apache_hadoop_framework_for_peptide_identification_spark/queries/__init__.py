"""Oracle-verified query registry — the driver contract.

Every operator claimed in SURVEY.md §2B registers here as a named query:
a PySpark builder ``fn(spark, sf_dir) -> DataFrame`` plus an equivalent
DuckDB SQL string the driver runs side-by-side at sf0.01. Computed
columns are aliased to the SAME name on both sides — the comparator
sorts columns by name before hashing values.

Registration is import-driven: importing this package pulls in every
query module, so ``__spark_entry__.queries()`` is just ``spark_fns()``.
``REGISTRY`` iterates in registration order: the module import order at
the bottom of this file, then decorator order within each module.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.reliability import materialize


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None only for BENCH_REGISTRY forms


REGISTRY: dict[str, QueryDef] = {}

# Benchmark-only forms, not exposed through the driver contract: the
# four rows-only bench headliners (q42 MinHash-LSH candidates, q43
# FNV-SimHash, q45 LSH-ANN, q67 hyperplane-LSH near-dup) have no SQL
# oracle by design (probabilistic candidate sets at bench scope), and
# REGISTRY holds only oracle-verified queries. Each one's machinery is
# hash-verified through an oracle sibling (q113/q120/q118/q114); the
# forms stay benchmarked (bench.py resolves BENCH_REGISTRY too) and
# smoke-run by tests/test_oracle_queries.py.
BENCH_REGISTRY: dict[str, QueryDef] = {}


def _register(registry: dict[str, QueryDef], name: str, oracle: str | None):
    def deco(fn):
        if name in REGISTRY or name in BENCH_REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        registry[name] = QueryDef(name, fn, oracle)
        return fn

    return deco


def query(name: str, oracle: str):
    """Register a query builder under ``name`` with its DuckDB oracle."""
    return _register(REGISTRY, name, oracle)


def bench_query(name: str):
    """Register a benchmark-only query: runs in bench.py and the local
    rows-only smoke sweep, never exposed through the driver contract.
    Reserve for forms whose semantics are deliberately un-oracle-able
    AND whose machinery holds a hash verdict through a sibling registry
    query — both facts belong in the docstring."""
    return _register(BENCH_REGISTRY, name, None)


def materialized_sort(df: DataFrame, *cols) -> DataFrame:
    """Final deterministic ordering for a batch query's OUTPUT.

    A global ``orderBy`` plans as an Exchange(rangepartitioning), and
    range partitioning needs bounds: Spark first runs a separate
    SAMPLING job over the sort's child, then the real shuffle. With
    AQE the sampler re-reads earlier shuffle stages cheaply, but
    every operator between the last exchange and the sort — final
    aggregates, broadcast-join tails, explodes, Python stages —
    executes TWICE (q67's post-LSH verify tail paid ~0.7 s of its
    3.1 s wall to the sampler). Lazily materializing the sort input
    (operators/reliability.materialize, under the session's
    durability regime) runs it once, so the sampler and the sort both
    read materialized partitions — no extra job, and storage is
    OUTPUT-proportional (the same rows the caller is about to
    collect/write), so the pattern is scale-safe at 100 TB where the
    double-computed tail would be a full extra pass over the result.

    Batch only: checkpointing is illegal on streaming frames.

    Block lifetime: under the default ``"local"`` regime each call
    pins its OUTPUT rows as executor-cache blocks until the frame is
    garbage-collected — there is no unpersist handle on a checkpointed
    frame. A long-lived session sweeping many queries (bench.py's ~34, or
    profile_bench's warm-up + timed + noop triple per query)
    accumulates one output-sized block set per *built DataFrame*; at
    sf0.1 that is a few hundred MB total across the whole sweep
    (outputs are small by construction), but a service-style session
    should rebuild the SparkSession between sweeps — which bench.py
    effectively does by being a fresh process per invocation.
    """
    return materialize(df, eager=False).orderBy(*cols)


def spark_fns() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.fn for q in REGISTRY.values()}


def oracle_sqls() -> dict[str, str]:
    return {q.name: q.oracle for q in REGISTRY.values()}


# Import-for-side-effect: each module registers its queries.
from . import relational  # noqa: E402,F401
from . import window  # noqa: E402,F401
from . import scalar_funcs  # noqa: E402,F401
from . import llm  # noqa: E402,F401
from . import epipe  # noqa: E402,F401
from . import streaming_q  # noqa: E402,F401
from . import udf_surface  # noqa: E402,F401
from . import sources_q  # noqa: E402,F401
from . import pipeline_q  # noqa: E402,F401
from . import corpus_q  # noqa: E402,F401
from . import graph_q  # noqa: E402,F401
from . import sql_surface  # noqa: E402,F401
from . import analytics_q  # noqa: E402,F401
