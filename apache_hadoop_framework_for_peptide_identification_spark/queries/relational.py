"""Relational core — SURVEY.md §2B tables: projection/filter, joins
(inner/outer/semi/anti/cross/theta/range/as-of), aggregation (stats,
distinct, rollup/cube/grouping-sets, collect, pivot), set ops, sampling.

Every query here is pure DataFrame API → Catalyst owns the physical
strategy (broadcast vs SMJ, partial agg, pushdown). Scale notes inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.asof import asof_join
from ..operators.topk import top_k_per_group
from . import materialized_sort, query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------- B1
@query(
    "q01_scan_filter_agg",
    oracle="""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity)                                          AS sum_qty,
       sum(l_extendedprice)                                     AS sum_base_price,
       sum(l_extendedprice * (1 - l_discount))                  AS sum_disc_price,
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))    AS sum_charge,
       avg(l_quantity)                                          AS avg_qty,
       avg(l_extendedprice)                                     AS avg_price,
       avg(l_discount)                                          AS avg_disc,
       count(*)                                                 AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q01_scan_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape (flagship): pushed-down scan filter, hash agg with
    map-side partials, tiny ordered result. Scale: the only shuffle is
    the 6-group aggregate exchange — bytes shuffled ~ O(groups), not rows."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return materialized_sort(
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        ),
        "l_returnflag", "l_linestatus",
    )


# ---------------------------------------------------------------- B2
@query(
    "q02_join_revenue_topk",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name,
       sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 10
""",
)
def q02_join_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + agg + top-10. Scale: nation/customer are dimensions →
    broadcast (no shuffle); lineitem⋈orders is the one big shuffle and
    both sides hash on the same orderkey. Top-10 plans as
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(10)
    )


# ---------------------------------------------------------------- B3
@query(
    "q03_window_topk_per_group",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders)
WHERE rn <= 3
ORDER BY o_custkey, rn
""",
)
def q03_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-3 orders via window rank. Scale: one shuffle on
    o_custkey; AQE coalesces post-shuffle partitions. Deterministic
    tie-break on o_orderkey so the oracle agrees row-for-row."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return materialized_sort(
        top_k_per_group(
            o,
            group=["o_custkey"],
            order=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
            k=3,
        ),
        "o_custkey", "rn",
    )


# ---------------------------------------------------------------- B4
@query(
    "q04_tumbling_hourly",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, user_id,
       count(*) AS n_events, sum(value) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q04_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling 1-hour window on events (nanos-ts ingest path).
    F.window buckets are epoch-aligned so window.start == date_trunc."""
    ev = _t(spark, sf_dir, "events")
    return materialized_sort(
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n_events", "sum_value"),
        "window_start", "user_id",
    )


# ------------------------------------------------- projection / filter
@query(
    "q05_project_expressions",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice > 200000 THEN 'big'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'small' END                                   AS size_class,
       coalesce(nullif(o_orderstatus, 'O'), 'OPEN')            AS status_norm,
       greatest(o_totalprice, 150000.0)                        AS gte,
       least(o_totalprice, 150000.0)                           AS lte,
       CAST(floor(o_totalprice) AS BIGINT)                     AS price_floor,
       o_totalprice * 0.9                                      AS discounted
FROM orders
ORDER BY o_orderkey
""",
)
def q05_project_expressions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + conditional expressions: CASE WHEN, coalesce/nullif,
    greatest/least, cast. All JVM-side, whole-stage-codegen'd."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias("status_norm"),
        F.greatest(F.col("o_totalprice"), F.lit(150000.0)).alias("gte"),
        F.least(F.col("o_totalprice"), F.lit(150000.0)).alias("lte"),
        F.floor("o_totalprice").alias("price_floor"),
        (F.col("o_totalprice") * 0.9).alias("discounted"),
    ).orderBy("o_orderkey")


@query(
    "q06_filter_predicates",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20
  AND l_returnflag IN ('A', 'R')
  AND l_linestatus LIKE 'F%'
  AND regexp_matches(l_returnflag, '^[AR]$')
  AND l_discount IS NOT NULL
  AND NOT (l_tax < 0)
ORDER BY l_orderkey, l_linenumber
""",
)
def q06_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate surface: between/in/like/rlike/null checks/boolean ops —
    all pushed into the parquet scan where parquet stats allow."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_quantity").between(10, 20)
            & F.col("l_returnflag").isin("A", "R")
            & F.col("l_linestatus").like("F%")
            & F.col("l_returnflag").rlike("^[AR]$")
            & F.col("l_discount").isNotNull()
            & ~(F.col("l_tax") < 0)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q07_distinct",
    oracle="""
SELECT DISTINCT o_orderstatus, o_orderpriority
FROM orders
ORDER BY o_orderstatus, o_orderpriority
""",
)
def q07_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct == groupBy all cols; map-side partial dedup then one
    shuffle keyed on the distinct columns."""
    o = _t(spark, sf_dir, "orders")
    return o.select("o_orderstatus", "o_orderpriority").distinct().orderBy(
        "o_orderstatus", "o_orderpriority"
    )


# ------------------------------------------------------------- joins
@query(
    "q08_join_left_outer",
    oracle="""
SELECT c.c_custkey, count(o.o_orderkey) AS n_orders,
       coalesce(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0)
           AS total_spend
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey
ORDER BY c.c_custkey
""",
)
def q08_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no orders (count=0).

    Money sums run in DECIMAL then convert to double ONCE: per-group
    double sums are summation-order-dependent, and with 1500+ output
    groups a 6th-significant-digit flip against the oracle becomes
    near-certain as rows grow (observed at sf0.1 — SURVEY.md §7
    risk 3). Decimal aggregation is exact, so both engines converge
    bit-for-bit regardless of partitioning."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(spend, F.lit(0.0)).alias("total_spend"),
        )
        .orderBy("c_custkey")
    )


@query(
    "q82_join_right_outer",
    oracle="""
SELECT c.c_custkey, count(o.o_orderkey) AS n_orders,
       coalesce(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0)
           AS total_spend
FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey
ORDER BY c.c_custkey
""",
)
def q82_join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join preserving the build side (customers with no
    orders survive null-extended) — completes the J2 left/right/full
    family (SURVEY.md §2B joins row; round-1 VERDICT gap #2).

    Semantically the mirror of q08 with the join direction flipped:
    orders is the probe side, customer the preserved side.  Spark's
    planner will swap a right outer into a left outer with the sides
    exchanged — same plan, so no perf caveat.  Decimal-exact money sum
    as in q08."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(spend, F.lit(0.0)).alias("total_spend"),
        )
        .orderBy("c_custkey")
    )


@query(
    "q09_join_full_outer",
    oracle="""
WITH big_spenders AS (
  SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
  HAVING CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) > 500000),
rich AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000)
SELECT coalesce(b.o_custkey, r.c_custkey) AS custkey,
       b.spend, r.c_acctbal,
       (b.o_custkey IS NOT NULL) AS is_big_spender,
       (r.c_custkey IS NOT NULL) AS is_rich
FROM big_spenders b FULL OUTER JOIN rich r ON b.o_custkey = r.c_custkey
ORDER BY custkey
""",
)
def q09_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with null-extension on both sides (HAVING via
    post-agg filter)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        o.groupBy("o_custkey")
        .agg(
            # Decimal-exact sum, one final double conversion (see q08).
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("spend")
        )
        .filter(F.col("spend") > 500000)
    )
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey", "c_acctbal")
    return (
        big.join(rich, big.o_custkey == rich.c_custkey, "full")
        .select(
            F.coalesce("o_custkey", "c_custkey").alias("custkey"),
            "spend",
            "c_acctbal",
            F.col("o_custkey").isNotNull().alias("is_big_spender"),
            F.col("c_custkey").isNotNull().alias("is_rich"),
        )
        .orderBy("custkey")
    )


@query(
    "q10_join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
ORDER BY c_custkey
""",
)
def q10_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): no payload from the right, no row
    multiplication — Catalyst keeps only the existence probe."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q11_join_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
""",
)
def q11_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS): customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q12_join_theta_pairs",
    oracle="""
SELECT n1.n_name AS nation_a, n2.n_name AS nation_b, n1.n_regionkey AS regionkey
FROM nation n1 JOIN nation n2
  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
ORDER BY regionkey, nation_a, nation_b
""",
)
def q12_join_theta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi part (regionkey) drives the hash join, the
    inequality is a residual filter — no cartesian blow-up."""
    n1 = _t(spark, sf_dir, "nation").alias("n1")
    n2 = _t(spark, sf_dir, "nation").alias("n2")
    return (
        n1.join(
            n2,
            (F.col("n1.n_regionkey") == F.col("n2.n_regionkey"))
            & (F.col("n1.n_nationkey") < F.col("n2.n_nationkey")),
        )
        .select(
            F.col("n1.n_name").alias("nation_a"),
            F.col("n2.n_name").alias("nation_b"),
            F.col("n1.n_regionkey").alias("regionkey"),
        )
        .orderBy("regionkey", "nation_a", "nation_b")
    )


@query(
    "q13_range_join",
    oracle="""
SELECT b.bucket, count(*) AS n_items, sum(l.l_extendedprice) AS sum_price
FROM lineitem l
JOIN (VALUES (0.0, 10.0, 'small'), (10.0, 25.0, 'mid'), (25.0, 1000.0, 'big'))
     b(lo, hi, bucket)
  ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
GROUP BY b.bucket
ORDER BY b.bucket
""",
)
def q13_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join against a tiny bounds table. Scale: broadcast
    the bounds → BroadcastNestedLoopJoin evaluates the band predicate
    per row with zero shuffle; for large bounds tables bucketize the
    range key and equi-join on bucket id instead."""
    li = _t(spark, sf_dir, "lineitem")
    buckets = spark.createDataFrame(
        [(0.0, 10.0, "small"), (10.0, 25.0, "mid"), (25.0, 1000.0, "big")],
        "lo double, hi double, bucket string",
    )
    return (
        li.join(
            F.broadcast(buckets),
            (li.l_quantity >= buckets.lo) & (li.l_quantity < buckets.hi),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_items"), F.sum("l_extendedprice").alias("sum_price"))
        .orderBy("bucket")
    )


@query(
    "q14_asof_join",
    oracle="""
WITH purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
clicks AS (
  SELECT user_id, ts, max(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
SELECT p.event_id, p.user_id, p.value, c.click_value
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id
""",
)
def q14_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest click at-or-before
    it per user (operators.asof_join — union + running-last window; one
    shuffle, same cost class as a native ASOF merge join)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    joined = asof_join(purchases, clicks, on=["user_id"], left_ts="ts", right_ts="ts")
    return joined.select("event_id", "user_id", "value", "click_value").orderBy("event_id")


# -------------------------------------------------------- aggregation
@query(
    "q15_agg_stats",
    oracle="""
SELECT l_returnflag,
       stddev_samp(l_quantity)                 AS sd_qty,
       var_samp(l_quantity)                    AS var_qty,
       corr(l_quantity, l_extendedprice)       AS corr_qty_price,
       covar_samp(l_quantity, l_extendedprice) AS covar_qty_price,
       min(l_extendedprice)                    AS min_price,
       max(l_extendedprice)                    AS max_price,
       avg(l_extendedprice)                    AS avg_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def q15_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates — all partial-aggregatable (Spark computes
    moments map-side, merges centrally)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.stddev_samp("l_quantity").alias("sd_qty"),
            F.var_samp("l_quantity").alias("var_qty"),
            F.corr("l_quantity", "l_extendedprice").alias("corr_qty_price"),
            F.covar_samp("l_quantity", "l_extendedprice").alias("covar_qty_price"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.avg("l_extendedprice").alias("avg_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q16_agg_distinct",
    oracle="""
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
       sum(DISTINCT l_quantity)                  AS sum_distinct_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def q16_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates — Catalyst rewrites multi-distinct via expand;
    at scale prefer approx_count_distinct (q30) when exactness is not
    required."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.sum_distinct(F.col("l_quantity")).alias("sum_distinct_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q17_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n, sum(l_quantity) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
""",
)
def q17_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP multi-grain aggregation with grouping_id."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
        .orderBy(F.col("gid"), F.col("l_returnflag"), F.col("l_linestatus"))
    )


@query(
    "q18_cube",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       count(*) AS n, sum(o_totalprice) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus, o_orderpriority
""",
)
def q18_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping grains in one pass (expand + single shuffle)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
        .orderBy(F.col("gid"), F.col("o_orderstatus"), F.col("o_orderpriority"))
    )


@query(
    "q19_grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, n
""",
)
def q19_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL surface (same Catalyst plan as rollup/cube)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, n
        """
    )


@query(
    "q20_collect_agg",
    oracle="""
SELECT l_returnflag,
       (SELECT string_agg(s, ',' ORDER BY s)
        FROM (SELECT DISTINCT l2.l_linestatus AS s FROM lineitem l2
              WHERE l2.l_returnflag = l.l_returnflag)) AS statuses,
       count(*) AS n
FROM lineitem l GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def q20_collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set → sorted → joined to a canonical string (arrays are
    order-nondeterministic across partitions; sort_array restores
    determinism)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias("statuses"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q21_pivot",
    oracle="""
SELECT l_returnflag,
       sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS qty_open,
       sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS qty_filled
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def q21_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never let pivot scan for
    distinct values at scale — that is an extra pass over the data)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
        .orderBy("l_returnflag")
    )


@query(
    "q74_salted_agg",
    oracle="""
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY 1 ORDER BY 1
""",
)
def q74_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (operators/skew.py): events has
    few event_type values — exactly the hot-key shape where a plain
    groupBy funnels everything into a handful of reducers at scale.
    Salting on event_id spreads phase 1 over 32 buckets; phase 2
    merges partials. Must equal the plain group-by bit-for-bit."""
    from ..operators.skew import salted_agg

    # Decimal-exact sum (order-independent; doubles flip the 6th
    # significant digit vs the oracle at scale — see q08), min/max
    # stay on the raw double (order statistics have no such issue).
    ev = _t(spark, sf_dir, "events").withColumn(
        "value_d", F.col("value").cast("decimal(18,6)")
    )
    return (
        salted_agg(
            ev,
            keys=["event_type"],
            aggs=[
                ("count", "event_id", "n"),
                ("sum", "value_d", "sum_value"),
                ("min", "value", "min_value"),
                ("max", "value", "max_value"),
            ],
            salt_cols=["event_id"],
            buckets=32,
        )
        .withColumn("sum_value", F.col("sum_value").cast("double"))
        .orderBy("event_type")
    )


@query(
    "q75_salted_join",
    oracle="""
SELECT c.c_mktsegment AS segment, count(*) AS n, sum(o.o_totalprice) AS sum_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1 ORDER BY 1
""",
)
def q75_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join (operators/skew.py): big side salted
    per-row on o_orderkey, small side replicated buckets x, equi-join
    on (custkey, salt). Must equal the plain join exactly."""
    from ..operators.skew import salted_join

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = (
        _t(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    )
    joined = salted_join(o, c, on=["o_custkey"], salt_cols=["o_orderkey"], buckets=8)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("sum_price"))
        .orderBy("segment")
    )


@query(
    "q76_declarative_plan",
    oracle="""
SELECT c.c_mktsegment AS segment,
       count(*) AS n_orders,
       sum(o.o_totalprice) AS sum_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_totalprice > 50000
GROUP BY 1 ORDER BY 1
""",
)
def q76_declarative_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative JSON plan spec (plans/relational_spec.py) — the
    reference's config-driven job model (properties.json,
    Driver.java:66-85) generalized to relational plans. Expressions go
    through F.expr, so Catalyst optimizes the spec'd plan identically
    to the coded one."""
    from ..plans.relational_spec import build_plan

    spec = {
        "source": {"table": "orders"},
        "ops": [
            {"op": "filter", "condition": "o_totalprice > 50000"},
            {
                "op": "join",
                "right": {
                    "source": {"table": "customer"},
                    "ops": [
                        {"op": "select", "exprs": ["c_custkey AS o_custkey", "c_mktsegment"]}
                    ],
                },
                "on": ["o_custkey"],
                "broadcast": True,
            },
            {
                "op": "groupBy",
                "keys": ["c_mktsegment"],
                "aggs": [
                    {"expr": "count(*)", "alias": "n_orders"},
                    {"expr": "sum(o_totalprice)", "alias": "sum_price"},
                ],
            },
            {"op": "withColumn", "name": "segment", "expr": "c_mktsegment"},
            {"op": "select", "exprs": ["segment", "n_orders", "sum_price"]},
            {"op": "orderBy", "keys": ["segment"]},
        ],
    }
    return build_plan(spark, sf_dir, spec)


@query(
    "q93_unpivot",
    oracle="""
WITH agg AS (
  SELECT l_returnflag,
         sum(l_quantity) AS sum_qty,
         sum(l_extendedprice) AS sum_price,
         sum(l_discount) AS sum_disc
  FROM lineitem GROUP BY 1)
SELECT l_returnflag, metric, value
FROM agg UNPIVOT (value FOR metric IN (sum_qty, sum_price, sum_disc))
ORDER BY l_returnflag, metric
""",
)
def q93_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot / melt (the inverse of q21's pivot): wide per-flag
    aggregates to long (flag, metric, value) rows. DataFrame.unpivot
    is a pure projection+explode — no shuffle beyond the source agg."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum("l_extendedprice").alias("sum_price"),
        F.sum("l_discount").alias("sum_disc"),
    )
    return agg.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="value",
    ).orderBy("l_returnflag", "metric")


_Q94_SQL = """
SELECT c.c_custkey, c.c_name,
       (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_totalprice > 1.5 * (SELECT avg(o2.o_totalprice)
                                FROM orders o2
                                WHERE o2.o_custkey = o.o_custkey))
ORDER BY c.c_custkey
"""


@query("q94_correlated_subqueries", oracle=_Q94_SQL)
def q94_correlated_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subqueries (EXISTS + scalar, the same ANSI text runs
    on both engines): customers with an order 1.5x above their own
    average. Catalyst decorrelates all three subqueries into joins/
    aggregations — no per-row re-execution, unlike a naive evaluator;
    the plan is ordinary shuffles over o_custkey. (The scalar subquery
    correlates to its IMMEDIATE outer `o`, not `c` two levels up —
    Spark rejects multi-level correlation; same semantics here since
    o.o_custkey = c.c_custkey.)"""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q94_SQL)


@query(
    "q168_skew_adversarial_join",
    oracle="""
WITH big AS (
  SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 0
              ELSE l_orderkey % 1000 END AS skew_key,
         l_quantity
  FROM lineitem, unnest([0, 1, 2, 3, 4]) AS r(r)),
dim AS (
  SELECT o_orderkey % 1000 AS skew_key, count(*) AS n_orders_mod
  FROM orders GROUP BY 1)
SELECT b.skew_key,
       CAST(count(*) AS BIGINT) AS n_li,
       CAST(sum(CAST(b.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(max(d.n_orders_mod) AS BIGINT) AS n_orders_mod
FROM big b JOIN dim d USING (skew_key)
GROUP BY 1 ORDER BY 1
""",
)
def q168_skew_adversarial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join + salted aggregation under ADVERSARIAL key skew
    (r7 VERDICT item 4's named candidate — q74/q75 verify the salted
    operators on natural keys; this query constructs the hot key they
    exist for): lineitem replicated 5x with a derived key that funnels
    75% of all rows (~2.3M at sf0.1) onto key 0, joined to a
    1000-row orders-derived dimension, then aggregated per key. Both
    phases go through operators/skew.py — the join salts the big side
    32 ways and replicates the dim per salt, the aggregation runs
    two-phase on (key, salt) — so no single reducer ever owns the hot
    key: tests/test_skew.py asserts the post-shuffle partition
    histogram directly (plain keying puts ~75% of rows in ONE
    partition; salted keying bounds the max partition near 1/32 of
    the hot key). Sums aggregate in DECIMAL(18,2) and cast once (the
    q08 float-order rule). The oracle is the plain unsalted
    join+group-by — bit-identical results are the salting contract.
    Note AQE's skew-join split does NOT cover this shape at local
    scale (the hot partition stays under the 256 MB split threshold)
    and never covers aggregation skew where partial aggregation is
    defeated — explicit salting is the 100 TB answer when the skew is
    known."""
    from ..operators.skew import salted_agg, salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.select(
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("r"),
            "l_orderkey",
            "l_quantity",
        )
        .withColumn(
            "skew_key",
            F.when(F.col("l_orderkey") % 4 != 0, F.lit(0))
            .otherwise(F.pmod(F.col("l_orderkey"), F.lit(1000)))
            .cast("long"),
        )
        .withColumn("qty_d", F.col("l_quantity").cast("decimal(18,2)"))
    )
    dim = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.pmod(F.col("o_orderkey"), F.lit(1000)).cast("long").alias("skew_key"))
        .agg(F.count(F.lit(1)).alias("n_orders_mod"))
    )
    joined = salted_join(
        big, dim, on=["skew_key"], salt_cols=["r", "l_orderkey"], buckets=32
    )
    return materialized_sort(
        salted_agg(
            joined,
            keys=["skew_key"],
            aggs=[
                ("count", "l_orderkey", "n_li"),
                ("sum", "qty_d", "sum_qty"),
                ("max", "n_orders_mod", "n_orders_mod"),
            ],
            salt_cols=["r", "l_orderkey"],
            buckets=32,
        )
        .withColumn("sum_qty", F.col("sum_qty").cast("double"))
        .select("skew_key", "n_li", "sum_qty", "n_orders_mod"),
        "skew_key",
    )


@query(
    "q173_hot_key_two_path_join",
    oracle="""
WITH big AS (
  SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 0
              ELSE l_orderkey % 1000 END AS skew_key,
         l_quantity
  FROM lineitem, unnest([0, 1, 2, 3, 4]) AS r(r)),
dim AS (
  SELECT o_orderkey % 1000 AS skew_key, count(*) AS n_orders_mod
  FROM orders WHERE o_orderkey % 1000 < 900 GROUP BY 1)
SELECT b.skew_key,
       CAST(count(*) AS BIGINT) AS n_li,
       CAST(sum(CAST(b.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(max(d.n_orders_mod) AS BIGINT) AS n_orders_mod
FROM big b LEFT JOIN dim d USING (skew_key)
GROUP BY 1 ORDER BY 1
""",
)
def q173_hot_key_two_path_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PATH hot-key salted join (VERDICT r8 item 3 — the standard
    refinement of q168's whole-side salting): the same adversarial
    fixture as q168 (lineitem ×5, 75% of rows funneled onto key 0)
    but joined through operators/skew.py hot_key_salted_join, which
    MEASURES key frequencies first (count ≥ 10k ⇒ hot — only key 0
    qualifies at every sf), salts and replicates ONLY the hot keys,
    and joins the ~250 cold keys plain. The dimension replication
    cost drops from buckets×|dim| (q168: 32×) to |dim∩hot|×32 + 1×
    the cold remainder — tests/test_skew.py asserts both the split
    economics and that cold-key partitioning is untouched. The join
    is LEFT with the dimension truncated to keys < 900, so
    null-extension is exercised through BOTH paths (hot key 0 joins;
    cold keys ≥ 900 null-extend) — the oracle is the plain unsalted
    LEFT join: bit-identical results are the two-path contract. The
    downstream aggregation is a plain groupBy: partial (map-side)
    aggregation already absorbs key skew for algebraic aggregates —
    the explicit salted form (q168) is for when partials are
    defeated. Sums aggregate in DECIMAL(18,2) and cast once (the q08
    float-order rule)."""
    from ..operators.skew import hot_key_salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.select(
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("r"),
            "l_orderkey",
            "l_quantity",
        )
        .withColumn(
            "skew_key",
            F.when(F.col("l_orderkey") % 4 != 0, F.lit(0))
            .otherwise(F.pmod(F.col("l_orderkey"), F.lit(1000)))
            .cast("long"),
        )
        .withColumn("qty_d", F.col("l_quantity").cast("decimal(18,2)"))
    )
    dim = (
        _t(spark, sf_dir, "orders")
        .withColumn(
            "skew_key", F.pmod(F.col("o_orderkey"), F.lit(1000)).cast("long")
        )
        .filter(F.col("skew_key") < 900)
        .groupBy("skew_key")
        .agg(F.count(F.lit(1)).alias("n_orders_mod"))
    )
    joined = hot_key_salted_join(
        big,
        dim,
        on=["skew_key"],
        salt_cols=["r", "l_orderkey"],
        buckets=32,
        how="left",
        hot_row_threshold=10_000,
    )
    return materialized_sort(
        joined.groupBy("skew_key")
        .agg(
            F.count(F.lit(1)).alias("n_li"),
            F.sum("qty_d").cast("double").alias("sum_qty"),
            F.max("n_orders_mod").alias("n_orders_mod"),
        )
        .select("skew_key", "n_li", "sum_qty", "n_orders_mod"),
        "skew_key",
    )
