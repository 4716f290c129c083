"""The primary correctness gate: every registered query runs through
BOTH the engine (PySpark) and DuckDB over the same parquet, canonical
value-hash compared — exactly what the verification driver does at
sf0.01 (here at TEST_ORACLE_SF_DIR, default sf0.001, for speed)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE
from tests.oracle import compare

from apache_hadoop_framework_for_peptide_identification_spark.queries import (
    BENCH_REGISTRY,
    REGISTRY,
    bench_query,
    oracle_sqls,
    query,
    spark_fns,
)

ORACLE_QUERIES = sorted(REGISTRY)
# Rows-only coverage: the bench-only forms (q42/q43/q45/q67), which have
# no oracle by design.
WEAK_QUERIES = sorted(BENCH_REGISTRY)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    q = REGISTRY[name]
    spark_pdf = q.fn(spark, SF_ORACLE).toPandas()
    duck_pdf = duck.execute(q.oracle).df()
    report = compare(spark_pdf, duck_pdf)
    assert report["match"], f"{name}: {report}"


@pytest.mark.parametrize("name", WEAK_QUERIES)
def test_weak_query_runs(spark, name):
    q = BENCH_REGISTRY[name]
    df = q.fn(spark, SF_ORACLE)
    rows = df.count()
    assert rows >= 0
    assert len(df.schema.fields) > 0


def test_registry_contract():
    before = (dict(REGISTRY), dict(BENCH_REGISTRY))
    assert not set(REGISTRY) & set(BENCH_REGISTRY)
    taken = [next(iter(REGISTRY)), next(iter(BENCH_REGISTRY))]
    for name in taken:
        with pytest.raises(ValueError, match="duplicate query name"):
            query(name, oracle="SELECT 1")(lambda spark, sf_dir: None)
        with pytest.raises(ValueError, match="duplicate query name"):
            bench_query(name)(lambda spark, sf_dir: None)
    with pytest.raises(TypeError):
        query("q_registry_contract_probe")
    assert set(spark_fns()) == set(REGISTRY)
    assert set(oracle_sqls()) == set(REGISTRY)
    assert (dict(REGISTRY), dict(BENCH_REGISTRY)) == before


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
