"""Warehouse-analytics staples (q130–q132, q134–q138): point-in-time
(SCD2) dimension join, ordered funnel, cohort retention, referential
integrity, rolling active users, ABC/Pareto, market-basket pairs,
event transitions. These consume the temporal/windowing operators the
engine already verifies (q99 SCD2 build, operators/asof.py) in the
query shapes an analytics user actually runs — each with a full DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.asof import asof_join
from ..operators.reliability import materialize
from . import materialized_sort, query


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


@query(
    "q130_point_in_time_join",
    oracle="""
WITH p AS (
  SELECT user_id, ts, value,
         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM events WHERE user_id < 20 AND event_type = 'purchase'),
hist AS (
  SELECT user_id, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
         value
  FROM p WHERE rn = 1),
clicks AS (
  SELECT event_id, user_id, ts FROM events
  WHERE user_id < 20 AND event_type = 'click')
SELECT c.event_id, c.user_id, h.value AS active_value
FROM clicks c
LEFT JOIN hist h
  ON h.user_id = c.user_id AND h.valid_from <= c.ts
 AND (h.valid_to IS NULL OR c.ts < h.valid_to)
ORDER BY c.event_id
""",
)
def q130_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against an SCD2 dimension (the consumption
    side of q99's history build): every click is enriched with the
    purchase value that was ACTIVE at the click's timestamp. The
    engine composes it from the as-of join (operators/asof.py — one
    shuffle on the entity key, union + running-last window), which is
    exactly the containing-interval lookup because SCD2 intervals
    tile time per key; the oracle states it as the explicit interval
    predicate. Clicks before a user's first purchase stay
    null-extended on both sides. Right side pre-deduped to one row
    per (user, ts) (max event_id) so tie behavior is deterministic
    under any fixture regeneration."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", F.col("ts").alias("p_ts"), F.col("value").alias("active_value"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    joined = asof_join(
        clicks, purchases, on=["user_id"], left_ts="ts", right_ts="p_ts"
    )
    return joined.select("event_id", "user_id", "active_value").orderBy("event_id")


@query(
    "q131_funnel",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id)
SELECT 1 AS stage_no, 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
UNION ALL
SELECT 2, 'view>click', CAST(count(*) AS BIGINT) FROM c
UNION ALL
SELECT 3, 'view>click>purchase', CAST(count(*) AS BIGINT) FROM p
ORDER BY stage_no
""",
)
def q131_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase, strictly
    increasing event time per user): the classic product-analytics
    query. Three staged keyed aggregates, each joining the previous
    stage's per-user timestamp back before its min() — user_id-keyed
    equi-joins against one-row-per-user frames (broadcast-sized), so
    there is no event-level self-join explosion; per-stage cost is one
    filtered scan + one keyed aggregate. The oracle is the identical
    staged-CTE formulation."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t_view = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    t_click = (
        ev.filter(F.col("event_type") == "click")
        .join(t_view, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    t_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t_click, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    rows = [
        (1, "view", t_view),
        (2, "view>click", t_click),
        (3, "view>click>purchase", t_purchase),
    ]
    out = None
    for no, label, df in rows:
        stage = df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(no).alias("stage_no"), F.lit(label).alias("stage"), "n_users"
        )
        out = stage if out is None else out.unionByName(stage)
    return out.orderBy("stage_no")


@query(
    "q132_cohort_retention",
    oracle="""
WITH first_seen AS (
  SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
  FROM events GROUP BY user_id),
act AS (
  SELECT DISTINCT e.user_id, date_trunc('day', e.ts) AS d
  FROM events e)
SELECT f.cohort_day,
       CAST(date_diff('day', f.cohort_day, a.d) AS BIGINT) AS day_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
FROM act a JOIN first_seen f ON f.user_id = a.user_id
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q132_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, one
    cell per (cohort, day offset) counting distinct active users — the
    standard growth-analytics rollup (day granularity: the 30-day
    fixture yields a full triangular matrix; week granularity
    collapses it to a handful of cells). Two keyed aggregates + one
    equi-join on user_id; the distinct-user count shuffles (cohort,
    offset, user) triples, never events."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    act = ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("d")).distinct()
    return (
        act.join(first_seen, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day"))
            .cast("bigint")
            .alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "q134_referential_integrity",
    oracle="""
SELECT 'orders.o_custkey->customer' AS relationship,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_child_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey)) AS n_orphans,
       (SELECT CAST(count(*) AS BIGINT) FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey)) AS n_unreferenced_parents
UNION ALL
SELECT 'lineitem.l_orderkey->orders',
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_orderkey = l.l_orderkey)),
       (SELECT CAST(count(*) AS BIGINT) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_orderkey = o.o_orderkey))
UNION ALL
SELECT 'events.user_id->customer',
       (SELECT CAST(count(*) AS BIGINT) FROM events),
       (SELECT CAST(count(*) AS BIGINT) FROM events e
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = e.user_id)),
       (SELECT CAST(count(*) AS BIGINT) FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM events e
                           WHERE e.user_id = c.c_custkey))
ORDER BY relationship
""",
)
def q134_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the post-ingest quality gate every
    warehouse runs: per FK relationship, child rows, ORPHANS (children
    whose parent key is missing — broken joins downstream) and
    UNREFERENCED parents (dimension rows no fact touches — staleness /
    filter-bug signal). Each direction is one anti-join keyed on the
    FK (broadcast when the dim is small, AQE otherwise); counts
    aggregate map-side. The events→customer row exercises a
    cross-domain key (user ids vs custkeys) where unreferenced
    parents are the dominant signal."""
    rels = [
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
    ]
    out = None
    for label, child_t, fk, parent_t, pk in rels:
        child = _t(spark, sf_dir, child_t).select(F.col(fk).alias("__fk"))
        parent = _t(spark, sf_dir, parent_t).select(F.col(pk).alias("__pk"))
        n_child = child.agg(F.count(F.lit(1)).alias("n_child_rows"))
        n_orph = (
            child.join(parent, child["__fk"] == parent["__pk"], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        n_unref = (
            parent.join(child, parent["__pk"] == child["__fk"], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_unreferenced_parents"))
        )
        row = (
            n_child.crossJoin(n_orph)  # single row × single row
            .crossJoin(n_unref)
            .select(
                F.lit(label).alias("relationship"),
                "n_child_rows",
                "n_orphans",
                "n_unreferenced_parents",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("relationship")


@query(
    "q135_rolling_active_users",
    oracle="""
WITH act AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
span AS (
  SELECT unnest(range(0, 7)) AS off),
windowed AS (
  SELECT DISTINCT a.user_id, a.d + to_days(CAST(s.off AS INTEGER)) AS win_end
  FROM act a, span s),
days AS (SELECT DISTINCT d FROM act)
SELECT w.win_end AS day,
       CAST(count(DISTINCT w.user_id) AS BIGINT) AS wau
FROM windowed w JOIN days ON days.d = w.win_end
GROUP BY 1 ORDER BY 1
""",
)
def q135_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU per day) — EXACT sliding
    distinct count, which Spark window frames cannot express (no
    count(DISTINCT) over a RANGE frame): the scalable form explodes
    each (user, active-day) pair into the ≤7 window-end days it
    supports, then one distinct-count per window-end. Shuffle carries
    (day, user) pairs — 7× the distinct activity pairs, NOT 7× the
    events — the same offsets trick q55's sliding-window oracle uses.
    Output restricted to days with actual activity so both engines
    agree on the domain."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    windowed = (
        ev.select("user_id", "d", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"))
        # keep TIMESTAMP (midnight) day keys — date_add would narrow to
        # DATE and hash-diverge from the oracle's timestamp days
        .select(
            "user_id",
            F.date_add(F.col("d"), F.col("off")).cast("timestamp").alias("win_end"),
        )
        .distinct()
    )
    days = ev.select(F.col("d").alias("win_end")).distinct()
    return materialized_sort(
        windowed.join(days, "win_end")
        .groupBy(F.col("win_end").alias("day"))
        .agg(F.count_distinct("user_id").alias("wau")),
        "day",
    )


@query(
    "q136_abc_analysis",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue
  FROM lineitem GROUP BY l_partkey),
ranked AS (
  SELECT l_partkey, revenue,
         sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum_rev,
         sum(revenue) OVER () AS total_rev
  FROM rev)
SELECT CASE WHEN CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE) <= 0.5 THEN 'A'
            WHEN CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE) <= 0.8 THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(revenue) AS DOUBLE) AS class_revenue
FROM ranked GROUP BY 1 ORDER BY 1
""",
)
def q136_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto analysis of parts by revenue — the classic BI
    cumulative-share classification (A = first 50% of revenue, B to
    80%, C the tail). One aggregate to part level, then a single
    global cumulative window ordered by (revenue DESC, key) — the
    deterministic tiebreak keeps the running sum identical across
    engines, and revenue stays DECIMAL(18,2) through BOTH window sums
    (cast to double only at the comparison/projection), so cum/total
    are exact integers-of-cents on both engines regardless of each
    engine's float accumulation order (round-6 ADVICE item 1: DuckDB's
    segment-tree windowed sum vs Spark's sequential running sum could
    otherwise split a part sitting exactly on the 0.5/0.8 share
    boundary). The identical exact decimals cast to identical doubles,
    and IEEE division of identical doubles is deterministic, so the
    class boundaries cannot diverge after a fixture regeneration.
    The part-level rollup shrinks data BEFORE the global window, so
    the single-partition window pass handles parts (dimension-sized),
    never lineitems — acceptable up to ~10⁸ parts; beyond that, a
    two-pass range-partitioned prefix sum (q88's epoch-shuffle global
    rank machinery) replaces the single window."""
    from pyspark.sql import Window as W

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("revenue")
    )
    w_cum = W.orderBy(F.col("revenue").desc(), "l_partkey").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    ranked = rev.select(
        "revenue",
        F.sum("revenue").over(w_cum).alias("cum_rev"),
        F.sum("revenue").over(W.partitionBy()).alias("total_rev"),
    )
    share = F.col("cum_rev").cast("double") / F.col("total_rev").cast("double")
    return (
        ranked.select(
            F.when(share <= 0.5, "A").when(share <= 0.8, "B").otherwise("C").alias(
                "abc_class"
            ),
            "revenue",
        )
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("revenue").cast("double").alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


@query(
    "q137_frequent_pairs",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS support
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2)
SELECT part_a, part_b, CAST(support AS BIGINT) AS support
FROM pairs WHERE support >= 2
ORDER BY support DESC, part_a, part_b
""",
)
def q137_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket frequent pairs: parts co-ordered in the same order
    with support ≥ 2 — the pairwise core of association-rule mining.
    Per-basket pair generation via a self-equi-join on the basket key:
    cost is Σ(basket size²), bounded by the largest basket (TPC-H
    orders hold ≤7 items), NOT by part-catalog size — the join never
    touches part×part space. At 100 TB the same plan holds with a
    basket-size cap plus a support-threshold pre-prune on single-item
    frequencies (the A-priori property: a frequent pair needs both
    parts frequent)."""
    # Materialized once: both self-join sides consume `items`, and
    # when the planner broadcasts one side the distinct subtree
    # (scan + exchange + dedup agg) executes twice — measured
    # 1.63 → 1.45 s at sf0.1. Storage is the join's own input; at
    # cluster scale the sort-merge form reuses the exchange
    # instead, so the checkpoint is belt-and-braces there.
    items = materialize(
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct(),
        eager=False,
    )
    a = items.alias("a")
    b = items.alias("b")
    return materialized_sort(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2),
        F.col("support").desc(), "part_a", "part_b",
    )


@query(
    "q138_event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
  FROM events)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(count(*) AS BIGINT) AS n_transitions
FROM seq
WHERE next_type IS NOT NULL
  AND next_ts - ts <= INTERVAL 30 MINUTE
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q138_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix (the Markov-chain view of user
    behavior): per user, consecutive event pairs within a 30-minute
    gap, counted by (from, to) type — the path-analysis primitive
    behind sankey/flow dashboards. One window shuffle on user_id with
    an (ts, event_id) tiebreak for determinism under equal
    timestamps; the gap filter bounds transitions to within-session
    adjacency. 25 output cells regardless of volume."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "ts",
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("ts").over(w).alias("next_ts"),
    )
    return (
        seq.filter(
            F.col("next_type").isNotNull()
            & (F.col("next_ts") <= F.col("ts") + F.expr("INTERVAL 30 MINUTES"))
        )
        .groupBy(
            F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("from_type", "to_type")
    )


@query(
    "q142_longest_streak",
    oracle="""
WITH act AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events),
grp AS (
  SELECT user_id, d,
         d - to_days(CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                          AS INTEGER)) AS island
  FROM act),
streaks AS (
  SELECT user_id, count(*) AS len FROM grp GROUP BY user_id, island)
SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak
FROM streaks GROUP BY user_id ORDER BY user_id
""",
)
def q142_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — the
    gaps-and-islands pattern (day minus its per-user row_number is
    constant exactly within a consecutive run). One window shuffle on
    user_id over DISTINCT (user, day) pairs — days, not events — then
    two cheap keyed aggregates. The retention metric behind streak
    badges and churn features."""
    from pyspark.sql import Window as W

    act = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", F.col("ts")).alias("d"))
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("d")
    grp = act.select(
        "user_id",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("island"),
    )
    return (
        grp.groupBy("user_id", "island")
        .agg(F.count(F.lit(1)).alias("len"))
        .groupBy("user_id")
        .agg(F.max("len").alias("longest_streak"))
        .orderBy("user_id")
    )


@query(
    "q143_mad_outliers",
    oracle="""
WITH med AS (
  SELECT event_type, median(value) AS med_v
  FROM events GROUP BY event_type),
mad AS (
  SELECT e.event_type, m.med_v,
         median(abs(e.value - m.med_v)) AS mad_v
  FROM events e JOIN med m ON m.event_type = e.event_type
  GROUP BY e.event_type, m.med_v)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN abs(e.value - m.med_v) > 3 * 1.4826 * m.mad_v
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN mad m ON m.event_type = e.event_type
GROUP BY e.event_type ORDER BY e.event_type
""",
)
def q143_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier detection via median absolute deviation
    (|x − median| > 3·1.4826·MAD — the robust z-score): the
    data-quality gate that, unlike mean/stddev, is not dragged by the
    outliers themselves. Three passes over the group (median, MAD,
    flag), each a keyed aggregate with the tiny per-group stats
    broadcast back — at 100 TB the exact medians swap to
    percentile_approx in the same plan shape. Spark's `median` and
    DuckDB's agree on interpolation, so the boundary is exact."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med_v"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med_v")
        .agg(F.median(F.abs(F.col("value") - F.col("med_v"))).alias("mad_v"))
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med_v"))
                    > 3 * 1.4826 * F.col("mad_v"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@query(
    "q146_winsorize",
    oracle="""
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS p01,
         quantile_cont(value, 0.99) AS p99
  FROM events GROUP BY event_type)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN e.value < b.p01 OR e.value > b.p99
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
       avg(least(greatest(e.value, b.p01), b.p99)) AS winsorized_mean
FROM events e JOIN b ON b.event_type = e.event_type
GROUP BY e.event_type ORDER BY e.event_type
""",
)
def q146_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (clamp to [p01, p99]) — the feature-prep
    step that tames heavy tails without dropping rows. Exact
    interpolated percentiles per group (Spark `percentile` ≡ DuckDB
    `quantile_cont`, parity proven by q31) broadcast back, then a pure
    clamp expression; the winsorized mean is the oracle-checked
    output. At 100 TB swap the exact percentile for
    `percentile_approx` in the same plan shape — the clamp pass is
    unchanged."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    b = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("p01"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
    return (
        ev.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("p01")) | (F.col("value") > F.col("p99")),
                    1,
                ).otherwise(0)
            ).alias("n_clamped"),
            F.avg(clamped).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )
