"""Operator tests for the integer-exact PageRank (operators/graph.py):
fixed-point behavior the oracle differential can't isolate on its own."""

from __future__ import annotations

from apache_hadoop_framework_for_peptide_identification_spark.operators import graph as G


def _ranks(spark, edges, iters=10):
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    return {
        r["node"]: r for r in G.pagerank_int(df, "src", "dst", "w", iters=iters).collect()
    }


def test_two_node_cycle_is_exact_fixed_point(spark):
    # a<->b: the uniform rank 1.0 is a fixed point and the integer
    # recurrence must preserve it EXACTLY (1e9 units, zero drift).
    got = _ranks(spark, [("a", "b", 1), ("b", "a", 1)])
    assert got["a"]["rank_int"] == G.RANK_SCALE
    assert got["b"]["rank_int"] == G.RANK_SCALE
    assert got["a"]["rank"] == 1.0


def test_sink_accumulates_and_sources_decay(spark):
    # a->c, b->c: sources fall to the 0.15 base; the sink ranks above.
    got = _ranks(spark, [("a", "c", 1), ("b", "c", 1)])
    base = round(0.15 * G.RANK_SCALE)
    assert got["a"]["rank_int"] == base and got["b"]["rank_int"] == base
    assert got["c"]["rank_int"] > got["a"]["rank_int"]


def test_weighted_edges_split_rank_proportionally(spark):
    # a sends 3/4 of its mass to b and 1/4 to c (after one iteration
    # from uniform ranks, b's accumulated rank must exceed c's).
    got = _ranks(spark, [("a", "b", 3), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)])
    assert got["b"]["rank_int"] > got["c"]["rank_int"]
    assert got["b"]["rank_int"] > round(0.15 * G.RANK_SCALE)


def test_engine_matches_unrolled_oracle_on_adhoc_graph(spark, duck):
    """The recurrence generator and the DataFrame loop must agree on an
    arbitrary weighted graph, not just the documents fixture."""
    edges = [
        ("a", "b", 2),
        ("b", "c", 1),
        ("c", "a", 5),
        ("a", "c", 1),
        ("c", "b", 2),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {
        r["node"]: r["rank_int"]
        for r in G.pagerank_int(df, "src", "dst", "w", iters=7).collect()
    }
    values = " UNION ALL ".join(
        f"SELECT '{s}' AS src, '{d}' AS dst, CAST({w} AS BIGINT) AS w"
        for s, d, w in edges
    )
    want = {
        n: int(ri)
        for n, ri, _ in duck.execute(G.pagerank_oracle_sql(values, iters=7)).fetchall()
    }
    assert got == want


def test_triangle_count_known_graph(spark):
    """K4 (4 triangles) + a square with one diagonal (2 triangles) + a
    pendant edge and a self-loop + duplicate/reversed edges: the
    degree-oriented count must see the SIMPLE undirected graph only."""
    from apache_hadoop_framework_for_peptide_identification_spark.operators.graph import (
        triangle_count,
    )

    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    square_diag = [("p", "q"), ("q", "r"), ("r", "s"), ("s", "p"), ("p", "r")]
    noise = [("b", "a"), ("a", "b"), ("x", "x"), ("d", "x")]
    edges = spark.createDataFrame(k4 + square_diag + noise, "src string, dst string")
    row = triangle_count(edges).collect()[0]
    assert row["n_triangles"] == 4 + 2
    assert row["n_edges"] == 6 + 5 + 1  # dups/self-loop dropped, pendant kept
    assert row["n_nodes"] == 4 + 4 + 1


def test_pagerank_broadcast_ranks_parity(spark):
    """r19: broadcast_ranks is a join-STRATEGY hint (pins the edge list
    in place across iterations when the rank table is known small) —
    it must never change a single rank unit. Weighted multi-component
    graph with a dangling node so the zero-contribution union path is
    exercised under both strategies."""
    from apache_hadoop_framework_for_peptide_identification_spark.operators import graph as G

    edges = [
        ("a", "b", 3), ("b", "a", 1), ("a", "c", 2), ("c", "d", 5),
        ("d", "a", 1), ("e", "f", 7),  # f is dangling (no out-edges)
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    plain = {
        r["node"]: r["rank_int"]
        for r in G.pagerank_int(df, "src", "dst", "w", iters=6).collect()
    }
    hinted = {
        r["node"]: r["rank_int"]
        for r in G.pagerank_int(
            df, "src", "dst", "w", iters=6, broadcast_ranks=True
        ).collect()
    }
    assert plain == hinted


def test_pagerank_leaves_no_cache_entry(spark):
    """pagerank_int materializes through reliability.materialize on
    both join strategies, so a run leaves nothing in the Dataset
    CacheManager — a persisted edge table would stay there for the
    session's lifetime with no owner to release it."""
    edges = spark.createDataFrame(
        [("a", "b", 3), ("b", "a", 1), ("a", "c", 2), ("c", "a", 5)],
        "src string, dst string, w long",
    )
    spark.catalog.clearCache()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    for broadcast_ranks in (False, True):
        G.pagerank_int(
            edges, "src", "dst", "w", iters=4, broadcast_ranks=broadcast_ranks
        ).collect()
        assert cache_mgr.isEmpty(), f"broadcast_ranks={broadcast_ranks} left a cache entry"
