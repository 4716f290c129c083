"""Iterative graph operators: weighted PageRank / TextRank.

The one algorithm class the rest of the engine lacks: a FIXED-POINT
iteration where each step is a full relational pass (join + aggregate)
and the driver loops over PLANS, never over data — the same structure
as the connected-components labeler (operators/dedup.py) that dedup
clustering already uses.

Determinism contract (what makes an iterative float algorithm
oracle-checkable): all rank arithmetic is INTEGER. Ranks are scaled to
``rank_scale`` (1e9) units, edge transition factors to ``f_scale``
(1e6) units, and every division is an integer floor-div — so per-node
contribution sums are order-independent (long addition commutes;
double addition does not) and any engine that replays the recurrence
gets bit-identical ranks. The float variant differs from the true
PageRank fixed point by O(iters / f_scale) — quantization error, not
algorithm error.

Overflow accounting (ANSI mode errors rather than wraps, so these are
hard bounds, checked in the docstring not at runtime): rank ≤ N in
PageRank total-mass terms → rank_int ≤ N·1e9; per-edge product
rank_int · f ≤ N·1e15 — safe under int64 for graphs up to ~9000 total
rank mass; shrink rank_scale for bigger N.

The reference (`Driver.java`/`ExecutorMapper.java`) has no graph
surface; this extends SURVEY.md §2B's LLM group (TextRank keyword
extraction is a standard corpus-annotation step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .reliability import materialize

RANK_SCALE = 1_000_000_000  # 1e9: rank units
F_SCALE = 1_000_000  # 1e6: edge-factor units
DAMP_NUM, DAMP_DEN = 85, 100  # d = 0.85 as a ratio


def pagerank_int(
    edges: DataFrame,
    src: str,
    dst: str,
    weight: str,
    iters: int = 10,
    checkpoint_every: int = 3,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Weighted PageRank over a directed edge list, integer-exact.

    rank⁰(v) = 1.0;  rankⁱ⁺¹(v) = 0.15 + 0.85 · Σ_{u→v} f(u,v)·rankⁱ(u)
    with f(u,v) = w(u,v) / out-weight(u), all in scaled integer units
    (see module doc). Dangling mass is dropped (the simplest standard
    variant) — both engine and oracle replay the identical recurrence.

    Scale shape: each iteration is one equi-join of the rank table to
    the edge list on ``src`` plus one map-side-partial groupBy on
    ``dst`` — the canonical distributed PageRank step; no all-pairs, no
    driver-side data. The edge list (with precomputed factors) is
    localCheckpointed once and reused every iteration; the rank lineage
    is truncated every ``checkpoint_every`` iterations exactly like the
    connected-components loop, so the plan stays shallow while the
    driver iterates plans, not data.

    Every truncation here — the reused edge-factor table, the node
    set, and each periodic rank truncation — is unrecoverable under
    the default ``"local"`` durability regime if an executor dies
    after it (no lineage left; the whole multi-iteration job fails).
    For long iterative runs on a real cluster set ``"replicated"`` or
    ``"reliable"`` — the rank table is one (node, long) row per node,
    tiny next to the edge list, so the durability tax is bounded.
    Regimes: operators/reliability.py.

    ``broadcast_ranks`` (r19): hint the per-iteration rank side as a
    broadcast. The checkpointed rank frame carries NO size statistics
    (a LogicalRDD defaults to unknown), so without the hint the
    planner starts every iteration's join as sort-merge — shuffling
    the EDGE LIST by src each iteration until AQE converts it at
    runtime. With the hint the edge list never shuffles in the loop:
    each iteration is one broadcast of the (node, long) rank table +
    one map-side-combinable groupBy. Only safe when the rank table
    fits the broadcast ceiling (one row per NODE — true for
    vocabulary-bounded token graphs like q106; leave False for
    open-world graphs such as URL frontiers, where ranks scale with
    the crawl). Results identical either way (join strategy never
    changes rows). Measured on q106 at sf0.1: 2.30 → 1.92 s.

    Returns (node, rank_int, rank) — rank = rank_int/1e9 exact (both
    fit double's 2^53 integer window for any graph this scaling admits).
    """
    # Lazy-materialized: `e` feeds BOTH the out-weight aggregate and
    # the factor join below; without it the caller's edge build (an
    # Arrow bigram pass in q106) executes twice before fe's eager
    # checkpoint ever lands.
    e = materialize(
        edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
        ),
        eager=False,
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    fe_cols = e.join(outw, "src").select(
        "src",
        "dst",
        F.expr(f"CAST(w * {F_SCALE} AS BIGINT) div outw").alias("f"),
    )
    fe = materialize(fe_cols)
    nodes = materialize(
        fe.select(F.col("src").alias("node"))
        .unionByName(fe.select(F.col("dst").alias("node")))
        .distinct()
    )
    base = round(0.15 * RANK_SCALE)

    ranks = nodes.select("node", F.lit(RANK_SCALE).cast("long").alias("pr"))
    for i in range(iters):
        # One shuffle per iteration: per-edge contributions UNION a
        # zero row per node, summed in a single map-side-combinable
        # groupBy. Numerically identical to the former
        # nodes-LEFT-JOIN-acc form (sum(contribs ∪ {0}) ==
        # coalesce(sum(contribs), 0) — long addition, no float) but
        # drops one join (and its per-iteration broadcast job) from
        # every iteration: 10 iterations ran 39 Spark jobs before,
        # ~26 after (r19 job-count profile).
        rank_side = ranks.withColumnRenamed("node", "src")
        if broadcast_ranks:
            rank_side = F.broadcast(rank_side)
        contribs = (
            fe.join(rank_side, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr(f"(pr * f) div {F_SCALE}").alias("contrib"),
            )
            .unionByName(nodes.select("node", F.lit(0).cast("long").alias("contrib")))
        )
        ranks = (
            contribs.groupBy("node")
            .agg(F.sum("contrib").alias("acc"))
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(f"({DAMP_NUM} * acc) div {DAMP_DEN}")
                ).alias("pr"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            # eager=False applies to local/replicated only; reliable
            # mode materializes HERE, mid-loop (never lazy — see
            # reliability.materialize)
            ranks = materialize(ranks, eager=False)
    return ranks.select(
        "node",
        F.col("pr").alias("rank_int"),
        (F.col("pr") / F.lit(float(RANK_SCALE))).alias("rank"),
    )


def pagerank_oracle_sql(
    edges_cte: str, iters: int = 10
) -> str:
    """DuckDB SQL replaying pagerank_int's exact integer recurrence,
    with the ``iters`` iterations UNROLLED as chained CTEs (recursive
    CTEs can't aggregate over the recursive term). ``edges_cte`` must
    select (src, dst, w). Mechanically generated so the engine and
    oracle can never drift on the recurrence constants."""
    base = round(0.15 * RANK_SCALE)
    parts = [
        f"WITH e AS ({edges_cte})",
        f"""fe AS (
  SELECT e.src, e.dst, (e.w * {F_SCALE}) // o.outw AS f
  FROM e JOIN (SELECT src, sum(w) AS outw FROM e GROUP BY src) o USING (src))""",
        """nodes AS (
  SELECT DISTINCT node FROM (SELECT src AS node FROM fe UNION ALL SELECT dst FROM fe))""",
        f"pr0 AS (SELECT node, CAST({RANK_SCALE} AS BIGINT) AS pr FROM nodes)",
    ]
    for i in range(iters):
        parts.append(
            f"""pr{i + 1} AS (
  SELECT n.node,
         CAST({base} AS BIGINT)
           + ({DAMP_NUM} * coalesce(s.acc, CAST(0 AS BIGINT))) // {DAMP_DEN} AS pr
  FROM nodes n LEFT JOIN (
    SELECT fe.dst, sum((p.pr * fe.f) // {F_SCALE}) AS acc
    FROM fe JOIN pr{i} p ON p.node = fe.src
    GROUP BY fe.dst) s ON s.dst = n.node)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT node, CAST(pr AS BIGINT) AS rank_int,
       CAST(pr AS DOUBLE) / {float(RANK_SCALE)} AS rank
FROM pr{iters}"""
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Exact triangle count over the UNDIRECTED simple graph induced by
    ``edges`` (direction and multiplicity dropped, self-loops removed)
    → one row (n_nodes, n_edges, n_triangles).

    Degree-oriented enumeration (the standard distributed algorithm):
    every undirected edge is directed from its lower-(degree, node)
    endpoint to the higher one, so each triangle's nodes are totally
    ordered u→v→w and it is found EXACTLY once as a wedge
    (u→v, u→w) closed by (v→w). The orientation is the scale story:
    wedges are generated per node from OUT-neighbors only, and a
    node's out-degree under degree orientation is O(√m) on any graph
    — the hot-node wedge explosion (sum of deg² at celebrity nodes)
    structurally cannot happen, while the unoriented form dies there.
    Two self-equi-joins on node keys; shuffle carries (node, node,
    key) triples, never adjacency lists.
    """
    und = materialize(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        # Materialized once: `und` fans out to 6 consumers (both deg
        # union sides, the orientation join, the closing-edge side and
        # the n_edges/n_nodes stats) and Spark has no cross-branch CSE
        # — unmaterialized, the r19 executed plan re-ran the upstream
        # edge build (an Arrow bigram pass in q133) NINETEEN times
        # (19 scans / 81 exchanges, 12 reused). Lazy under
        # local/replicated: no extra job; storage is one (a, b) pair
        # per distinct edge — the operator's working set.
        eager=False,
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    ka = F.struct(F.col("deg_a").alias("d"), F.col("a").alias("n"))
    kb = F.struct(F.col("deg_b").alias("d"), F.col("b").alias("n"))
    oriented = materialize(
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(ka < kb, kb).otherwise(ka).alias("kv"),
        ),
        # Same rationale: 3 consumers (both wedge sides + the closing
        # join) would otherwise each re-run the two degree joins.
        eager=False,
    )
    o1 = oriented.select("u", F.col("v").alias("v1"), F.col("kv").alias("k1"))
    o2 = oriented.select(F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("kv").alias("k2"))
    wedges = o1.join(o2, (F.col("u") == F.col("u2")) & (F.col("k1") < F.col("k2"))).select(
        F.col("v1"), F.col("v2")
    )
    closing = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = wedges.join(closing, ["v1", "v2"]).agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = und.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    )  # single row × single row
    return stats.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")
