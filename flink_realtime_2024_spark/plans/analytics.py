"""Composite serving-layer analytics (classic warehouse query shapes).

The reference's DWS layer exists to serve exactly these OLAP shapes from
Doris (realtime-common/pom.xml:50-53): top-N open orders, per-region
volumes, returned-value rankings, month-over-month trends. Each composes
multiple §2 operators and has a full DuckDB oracle.

Scale notes: all are pre-aggregate-then-join or top-k plans — the fact
table is reduced before any wide join; top-k is TakeOrderedAndProject;
the MoM trend sorts only the (tiny) month dimension.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources.io import load_table
from ..operators._util import (
    dec,
    distributed_row_number,
    distributed_running_sum,
    ntile_from_rank,
)
from .registry import register

_TOP_UNSHIPPED_ORACLE = """
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_day,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderstatus = 'O'
  AND l.l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("analytics_top_unshipped", oracle=_TOP_UNSHIPPED_ORACLE, section="J1,A1,O2", bench=True)
def analytics_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top open-order revenue in a market segment."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders.filter(F.col("o_orderstatus") == "O"), F.col("c_custkey") == F.col("o_custkey"))
        .join(
            li.filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp_ntz")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


_REGION_VOLUME_ORACLE = """
SELECT r.r_name AS region,
       CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                     * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,4))
            AS DOUBLE) AS revenue,
       COUNT(DISTINCT o.o_orderkey) AS n_orders
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY r.r_name, year(o.o_orderdate)
"""


@register("analytics_region_volume", oracle=_REGION_VOLUME_ORACLE, section="J1,J2,A1,A3", bench=True)
def analytics_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue per region per year through the full dim
    chain (region←nation←customer←orders←lineitem).

    An orderkey lands in exactly one (region, year) group, so lineitem
    is pre-aggregated per order FIRST (map-side combine collapses ~4×
    before any join) and the distinct-order count becomes a plain
    count — no Expand from countDistinct, and the orders join sees one
    row per order instead of one per line. The per-order agg and the
    orderkey join share a partitioning (exchange reuse).

    Broadcast policy: only FIXED-size dims (nation=25, region=5) are
    explicitly broadcast. customer scales with the data (~150k×SF — an
    executor-OOM broadcast at 100 TB), so that join is left to AQE:
    shuffled at scale, auto-broadcast when a filter makes it small."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    per_order = li.groupBy("l_orderkey").agg(F.sum(rev).alias("order_rev"))
    return (
        per_order.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("r_name").alias("region"),
            F.year("o_orderdate").cast("bigint").alias("order_year"),
        )
        .agg(
            F.sum("order_rev").cast("decimal(38,4)").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


_RETURNED_ORACLE = """
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS lost_revenue,
       COUNT(*) AS n_returned_lines
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
"""


@register("analytics_returned_value", oracle=_RETURNED_ORACLE, section="J1,J2,A1,O2", bench=True)
def analytics_returned_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers ranked by returned-item revenue.

    customer is NOT explicitly broadcast (it scales with SF); only the
    fixed 25-row nation dim is. The customer join shuffles on custkey —
    the scale-safe default — and AQE upgrades it when actually small."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            F.sum(rev).cast("double").alias("lost_revenue"),
            F.count(F.lit(1)).alias("n_returned_lines"),
        )
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_MARKET_SHARE_ORACLE = """
WITH rev AS (
  SELECT year(o.o_orderdate) AS order_year,
         n.n_name AS nation,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'ASIA'
  GROUP BY 1, 2
)
SELECT CAST(order_year AS BIGINT) AS order_year, nation, revenue,
       round(revenue / SUM(revenue) OVER (PARTITION BY order_year), 6) AS share
FROM rev
"""


@register("analytics_market_share", oracle=_MARKET_SHARE_ORACLE, section="J1,J2,A1,W4")
def analytics_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: each nation's share of its region's yearly
    revenue. Numerator and denominator are the SAME exact-decimal sums
    (cast to double last), so the ratio is a division of bit-identical
    operands on both engines — deterministic without tolerance. The
    share is a window sum over the tiny (year, nation) aggregate, not
    the fact table."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev_expr = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    rev = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy(
            F.year("o_orderdate").cast("bigint").alias("order_year"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.sum(rev_expr).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("order_year")
    return rev.select(
        "order_year",
        "nation",
        "revenue",
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias("share"),
    )


_TOP_SUPPLIER_ORACLE = """
WITH srev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, srev.total_rev
FROM supplier s JOIN srev ON s.s_suppkey = srev.l_suppkey
WHERE srev.total_rev = (SELECT MAX(total_rev) FROM srev)
"""


@register("analytics_top_supplier", oracle=_TOP_SUPPLIER_ORACLE, section="J1,A1,O2")
def analytics_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the quarter's max revenue — an
    uncorrelated scalar subquery against the same aggregate (Catalyst
    plans the MAX as a one-row subquery join; the aggregate is computed
    once per side but shares the scan+shuffle shape). Exact-decimal
    revenue makes the MAX equality safe across engines."""
    supplier = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    rev_expr = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    srev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev_expr).cast("double").alias("total_rev"))
    )
    max_rev = srev.agg(F.max("total_rev").alias("m"))
    return (
        supplier.join(srev, F.col("s_suppkey") == F.col("l_suppkey"))
        # max_rev is ONE row — no explicit hint needed; AQE broadcasts it
        # (and the registry-wide sweep allows hints only on fixed dims)
        .join(max_rev, F.col("total_rev") == F.col("m"))
        .select("s_suppkey", "s_name", "total_rev")
    )


_PROMO_ORACLE = """
WITH m AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
         CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                       THEN CAST(l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l_discount AS DECIMAL(18,4)))
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_rev,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS total_rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)
SELECT ship_month, promo_rev, total_rev,
       round(100 * promo_rev / total_rev, 6) AS promo_pct
FROM m
"""


@register("analytics_promo_effect", oracle=_PROMO_ORACLE, section="J1,A6,X2")
def analytics_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share per ship month — a
    conditional exact-decimal sum over the part join, ratio of two
    double-cast exact sums (engine-identical division)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    m = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(promo).cast("double").alias("promo_rev"),
            F.sum(rev).cast("double").alias("total_rev"),
        )
    )
    return m.select(
        "ship_month",
        "promo_rev",
        "total_rev",
        F.round(F.lit(100) * F.col("promo_rev") / F.col("total_rev"), 6).alias("promo_pct"),
    )


_MOM_ORACLE = """
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT month, revenue, n_orders,
       CAST(CASE WHEN LAG(month) OVER w
                      = strftime(CAST(month || '-01' AS DATE) - INTERVAL 1 MONTH, '%Y-%m')
                 THEN revenue - LAG(revenue) OVER w END AS DOUBLE) AS mom_delta
FROM monthly
WINDOW w AS (ORDER BY month)
"""


@register("analytics_monthly_trend", oracle=_MOM_ORACLE, section="X2,A1,W3", bench=True)
def analytics_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue trend: A1 aggregate to month grain, then
    a W3 lag over the month dimension, guarded so the delta only fires
    when the lagged row is the *calendar*-previous month (a gap month
    yields NULL, which is what a trend dashboard means by MoM).

    Scale note — why the global window is the RIGHT plan here: its
    input is the post-aggregation frame, whose cardinality is the
    number of distinct months (decades of data ≈ hundreds of rows), so
    the single-partition sort is O(#months), not O(orders). The
    alternative — a calendar-prev equi self-join — keeps every stage
    key-partitioned but Catalyst plans the orders scan + aggregate
    TWICE (no subplan CSE across join inputs; measured 0.82 s vs
    0.51 s at sf0.1), and at 100 TB the duplicated scan dwarfs a
    hundred-row sort. Cheapest total work wins."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month")).agg(
        F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("month")
    cal_prev = F.date_format(
        F.add_months(F.to_date(F.concat_ws("-", F.col("month"), F.lit("01"))), -1),
        "yyyy-MM",
    )
    return monthly.select(
        "month",
        "revenue",
        "n_orders",
        F.when(F.lag("month").over(w) == cal_prev, F.col("revenue") - F.lag("revenue").over(w))
        .cast("double")
        .alias("mom_delta"),
    )


_FUNNEL_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events
),
v AS (
  SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(t) AS t2
  FROM e JOIN v USING (user_id)
  WHERE event_type = 'click' AND t > t1
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(t) AS t3
  FROM e JOIN c USING (user_id)
  WHERE event_type = 'purchase' AND t > t2
  GROUP BY e.user_id
)
SELECT 1 AS stage, 'view' AS stage_name, COUNT(*) AS n_users FROM v
UNION ALL
SELECT 2 AS stage, 'view>click' AS stage_name, COUNT(*) AS n_users FROM c
UNION ALL
SELECT 3 AS stage, 'view>click>purchase' AS stage_name, COUNT(*) AS n_users FROM p
"""


@register("analytics_funnel", oracle=_FUNNEL_ORACLE, section="A1,A6,J1,X2", bench=True)
def analytics_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): per user the
    first view, the first click strictly after it, the first purchase
    strictly after that — the signature DWS traffic metric the
    reference's Doris layer serves.

    Scale shape: ONE shuffle — events pre-filtered to the three funnel
    types, exchanged once on user_id, then three chained unordered
    window-mins (same partitioning ⇒ no re-exchange) compute each
    stage's first-qualifying timestamp; the final rollup is a tiny
    global aggregate. The staged groupBy+join alternative costs 5
    exchanges for the same answer. Skew note: per-user window frames
    buffer one user's funnel events — bounded by per-user activity, the
    same key cardinality any funnel shuffle carries. Event-time
    compares happen at µs exactly like the oracle's
    CAST(ns AS TIMESTAMP)."""
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", "ts")
    )
    w = Window.partitionBy("user_id")
    ts, et = F.col("ts"), F.col("event_type")
    scored = (
        e.withColumn("t1", F.min(F.when(et == "view", ts)).over(w))
        .withColumn(
            "t2",
            F.min(F.when((et == "click") & (ts > F.col("t1")), ts)).over(w),
        )
        .withColumn(
            "t3",
            F.min(F.when((et == "purchase") & (ts > F.col("t2")), ts)).over(w),
        )
    )
    per_user = scored.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    summary = per_user.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    stages = F.array(
        F.struct(F.lit(1).alias("stage"), F.lit("view").alias("stage_name"), F.col("n1").alias("n_users")),
        F.struct(F.lit(2).alias("stage"), F.lit("view>click").alias("stage_name"), F.col("n2").alias("n_users")),
        F.struct(F.lit(3).alias("stage"), F.lit("view>click>purchase").alias("stage_name"), F.col("n3").alias("n_users")),
    )
    return summary.select(F.explode(stages).alias("s")).select("s.*")


_RETENTION_ORACLE = """
WITH e AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events
),
cohort AS (
  SELECT user_id, MIN(d) AS cohort_d FROM e GROUP BY user_id
)
SELECT CAST(cohort_d AS VARCHAR) AS cohort_day,
       CAST(date_diff('day', cohort_d, d) AS BIGINT) AS day_offset,
       COUNT(DISTINCT user_id) AS n_active
FROM e JOIN cohort USING (user_id)
GROUP BY cohort_d, date_diff('day', cohort_d, d)
"""


@register("analytics_retention", oracle=_RETENTION_ORACLE, section="A1,A3,J1,X2")
def analytics_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-active day,
    counted on each subsequent active day-offset — the other canonical
    DWS user-behavior rollup next to the funnel.

    Scale shape: events collapse to DISTINCT (user, day) FIRST (the big
    reduction), cohort day is a second agg over the same user_id key,
    and the join back is equi on user_id — co-partitioned with both
    aggs. The final rollup groups a frame already shrunk to
    users × active-days."""
    e = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    cohort = e.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    return (
        e.join(cohort, "user_id")
        .groupBy("cohort_d", F.datediff("d", "cohort_d").alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
        .select(
            F.date_format("cohort_d", "yyyy-MM-dd").alias("cohort_day"),
            F.col("day_offset").cast("bigint").alias("day_offset"),
            "n_active",
        )
    )


_CEP_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
w1 AS (
  SELECT user_id, event_type, us,
         MAX(CASE WHEN event_type = 'view' THEN us END) OVER (
           PARTITION BY user_id ORDER BY us, event_type
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_view_us
  FROM e
),
w2 AS (
  SELECT user_id, event_type, us,
         CASE WHEN event_type = 'click'
                   AND prev_view_us IS NOT NULL
                   AND us - prev_view_us <= 604800000000
              THEN us END AS qualified_click_us
  FROM w1
),
w3 AS (
  SELECT user_id, event_type, us,
         MAX(qualified_click_us) OVER (
           PARTITION BY user_id ORDER BY us, event_type
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS prev_qclick_us
  FROM w2
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_conversions,
       CAST(MIN(us) AS BIGINT) AS first_conversion_us
FROM w3
WHERE event_type = 'purchase'
  AND prev_qclick_us IS NOT NULL
  AND us - prev_qclick_us <= 604800000000
GROUP BY user_id
"""


@register("analytics_cep_funnel", oracle=_CEP_ORACLE, section="A1,A6,W3,X2")
def analytics_cep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style strict sequence detection (Flink CEP's
    ``begin('view').next...`` shape, the one DataStream feature family
    with no direct Spark operator): count, per user, purchases
    completing a view→click→purchase chain where each step follows the
    previous within 7 days.

    Spark-first form — NO per-row Python, no self-joins: one shuffle on
    user_id, then two cascaded conditional window maxes over the same
    (user, time) sort:

    1. per row, the latest PRECEDING 'view' time (conditional MAX over
       an unbounded-preceding frame);
    2. clicks within 7 days of that view become 'qualified clicks'; a
       second identical window carries the latest preceding qualified
       click forward;
    3. purchases within 7 days of a qualified click are conversions.

    Both windows share the one exchange+sort (same partition key and
    ordering — Catalyst reuses the sort), so the whole pattern match is
    a single pass per user partition; state is O(1) per row exactly
    like a CEP NFA with a 'last-seen' register. The identical logic
    runs as the DuckDB oracle."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", F.unix_micros("ts").alias("us"))
    )
    step_us = 604_800_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_type")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_view = F.max(F.when(F.col("event_type") == "view", F.col("us"))).over(w)
    step1 = ev.withColumn("prev_view_us", prev_view)
    step2 = step1.withColumn(
        "qualified_click_us",
        F.when(
            (F.col("event_type") == "click")
            & F.col("prev_view_us").isNotNull()
            & (F.col("us") - F.col("prev_view_us") <= step_us),
            F.col("us"),
        ),
    )
    step3 = step2.withColumn("prev_qclick_us", F.max("qualified_click_us").over(w))
    return (
        step3.where(
            (F.col("event_type") == "purchase")
            & F.col("prev_qclick_us").isNotNull()
            & (F.col("us") - F.col("prev_qclick_us") <= step_us)
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.min("us").alias("first_conversion_us"),
        )
    )


@register("stream_cep_funnel", oracle=_CEP_ORACLE, section="T5,A1,W3")
def stream_cep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``analytics_cep_funnel`` — the form Flink CEP
    actually takes: per-user NFA registers (last view, last qualified
    click) in keyed state across real micro-batches
    (applyInPandasWithState over the in-order replay). Each batch emits
    only newly completed conversions; the accumulated stream aggregates
    to EXACTLY the batch window plan's answer, checked by the same
    oracle. State is two int64s per user — RocksDB-scale at 100 TB."""
    from ..streaming.stateful import run_cep_funnel

    return run_cep_funnel(spark, sf_dir)


_RETENTION_COHORTS_ORACLE = """
WITH e AS (
  SELECT user_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS BIGINT) AS week
  FROM events
), cohort AS (
  SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id, c.cohort_week, e.week - c.cohort_week AS week_offset
  FROM e JOIN cohort c USING (user_id)
)
SELECT cohort_week, week_offset,
       COUNT(*) AS n_active,
       CAST(ROUND(COUNT(*) * 1.0 / MAX(COUNT(*)) OVER (PARTITION BY cohort_week), 4)
            AS DOUBLE) AS retention
FROM activity GROUP BY cohort_week, week_offset
"""


@register("analytics_retention_cohorts", oracle=_RETENTION_COHORTS_ORACLE, section="A1,J1,W4")
def analytics_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the canonical product-analytics rollup every
    event warehouse serves: users grouped by first-seen epoch week,
    then for each (cohort, week-offset) the count and fraction of the
    cohort still active (weekly grain — the fixture feed spans one
    month). Two shuffles (per-user min, per-cohort-cell count); the
    cohort size for the retention denominator comes from a window MAX
    (every cohort's offset-0 cell is its full size), avoiding a third
    shuffle for a separate size join. At 100 TB the DISTINCT
    (user, week) projection — not raw events — is what shuffles."""
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(F.unix_micros("ts") / F.lit(604_800_000_000)).cast("bigint")
    e = ev.select("user_id", week.alias("week"))
    cohort = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = (
        e.join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    cell = activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    w = Window.partitionBy("cohort_week")
    return cell.select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.round(F.col("n_active") / F.max("n_active").over(w), 4)
        .cast("double")
        .alias("retention"),
    )


_RFM_ORACLE = """
WITH maxd AS (
  SELECT MAX(o_orderdate) AS d0 FROM orders
), per_cust AS (
  SELECT o_custkey AS custkey,
         MIN(date_diff('day', o_orderdate, (SELECT d0 FROM maxd))) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT custkey, recency_days, frequency, monetary,
       5 - NTILE(4) OVER (ORDER BY recency_days, custkey) AS r_score,
       NTILE(4) OVER (ORDER BY frequency, custkey) AS f_score,
       NTILE(4) OVER (ORDER BY monetary, custkey) AS m_score
FROM per_cust
"""


@register("analytics_rfm_segments", oracle=_RFM_ORACLE, section="A1,W5")
def analytics_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency/frequency/monetary quartiles)
    — the marketing-warehouse staple: one per-customer aggregate, then
    NTILE(4) scores per dimension. Every NTILE carries the custkey
    tiebreaker so quartile boundaries are deterministic cross-engine
    (the SURVEY §5.2 unique-tiebreaker rule); recency is measured from
    the corpus max date so the query is reproducible, not wall-clock
    dependent (the max-date anchor is a single-row bounded collect).
    DECIMAL money sums.

    SCALE (the round-5 fix): the naive form is three global NTILE
    windows — each a SINGLE task holding all O(customers) rows. Here
    each score is a two-pass distributed rank (percentile-bucketed
    ranks + broadcast per-bucket offsets, `distributed_row_number`)
    and NTILE is reconstructed from the exact global rank in closed
    form (`ntile_from_rank` — same first-n%k-tiles-get-ceil contract),
    so every task holds ~1/32 of the frame and the plan survives a
    100× customer count. n (one scalar) is a bounded collect like the
    d0 anchor. Oracle unchanged — the rank algebra is exact."""
    orders = load_table(spark, sf_dir, "orders")
    d0 = orders.agg(F.max("o_orderdate").alias("d0")).first()["d0"]
    per_cust = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.min(F.datediff(F.lit(d0), F.col("o_orderdate"))).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(dec("o_totalprice")).cast("double").alias("monetary"),
        )
        # consumed by 3 rank passes + n — scan once. LAZY (r14 opt):
        # the count() on the next line is strictly sequential and
        # materializes the blocks, so an eager checkpoint here was one
        # extra job doing the same scan.
        .localCheckpoint(eager=False)
    )
    n = per_cust.count()

    def score(key_col: str, out: str) -> DataFrame:
        ranked = distributed_row_number(
            per_cust.select("custkey", key_col),
            key=F.col(key_col),
            order_by=[key_col, "custkey"],
            out="_r",
        )
        return ranked.select(
            "custkey", ntile_from_rank(F.col("_r"), n, 4).alias(out)
        )

    return (
        per_cust.join(score("recency_days", "_rq"), "custkey")
        .join(score("frequency", "f_score"), "custkey")
        .join(score("monetary", "m_score"), "custkey")
        .select(
            "custkey",
            "recency_days",
            "frequency",
            "monetary",
            (F.lit(5) - F.col("_rq")).cast("int").alias("r_score"),
            "f_score",
            "m_score",
        )
    )


_PARETO_ORACLE = """
WITH rev AS (
  SELECT l_partkey AS partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4))
             * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS rev_dec
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT partkey, CAST(rev_dec AS DOUBLE) AS revenue,
         CAST(SUM(rev_dec) OVER (ORDER BY CAST(rev_dec AS DOUBLE) DESC, partkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(SUM(rev_dec) OVER () AS DOUBLE) AS cum_share
  FROM rev
)
SELECT partkey, revenue,
       CAST(ROUND(cum_share, 6) AS DOUBLE) AS cum_share,
       CASE WHEN ROUND(cum_share, 6) <= 0.8 THEN 'A'
            WHEN ROUND(cum_share, 6) <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
FROM ranked
"""


@register("analytics_pareto_abc", oracle=_PARETO_ORACLE, section="A1,W4,O1")
def analytics_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC inventory classification — the 80/15/5 revenue-share
    cut every merchandising warehouse maintains: per-part revenue,
    descending cumulative share (W4 running frame with the partkey
    tiebreaker for cross-engine determinism), classified A/≤80%,
    B/≤95%, C/rest. Share is rounded BEFORE classification on both
    engines so boundary parts can't flip class on f64 noise.

    SCALE (the round-5 fix): the running sum is the classic TWO-PASS
    DISTRIBUTED PREFIX SUM (`distributed_running_sum`) — per-bucket
    sequential sums in parallel tasks + broadcast cumulative bucket
    offsets from a constant-size (≤32-row) summary frame — replacing
    the single-task global window over O(parts) rows. Cross-engine
    exactness survives the reordering because the prefix sums run in
    DECIMAL (exact, order-independent — bucket-total addition order
    can't perturb them); both engines then cast the identical decimals
    to DOUBLE and do one IEEE division, so the 6-dp rounding sees
    bit-identical inputs. The oracle computes the same decimal algebra
    sequentially."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).alias(
            "rev_dec"
        )
    ).withColumn("revenue", F.col("rev_dec").cast("double"))
    cummed = distributed_running_sum(
        rev,
        key=-F.col("revenue"),
        order_by=[F.col("revenue").desc(), F.col("partkey")],
        val=F.col("rev_dec"),
        out="_cum_dec",
        total_out="_tot_dec",
    )
    cum = F.round(
        F.col("_cum_dec").cast("double") / F.col("_tot_dec").cast("double"), 6
    )
    return cummed.select(
        "partkey",
        "revenue",
        cum.cast("double").alias("cum_share"),
        F.when(cum <= 0.8, "A").when(cum <= 0.95, "B").otherwise("C").alias("abc_class"),
    )


_PR_ITERS = 8
_PR_SCALE = 10**12  # rank mass in integer micro-units (exact cross-engine)


def _pagerank_oracle() -> str:
    """Unrolled power-iteration SQL (DuckDB's recursive CTEs forbid
    aggregates in the recursive member, so the fixed iteration count is
    emitted as a CTE chain). All rank math is BIGINT floor-division in
    micro-units — bit-identical in any engine; see the operator
    docstring."""
    head = f"""
WITH lines AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM lines a JOIN lines b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
), deg AS (
  SELECT src, COUNT(*) AS d FROM edges GROUP BY src
), n AS (
  SELECT COUNT(*) AS n FROM deg
), pr0 AS (
  SELECT src AS node, {_PR_SCALE} // (SELECT n FROM n) AS pr FROM deg
)"""
    body = ""
    for i in range(_PR_ITERS):
        body += f""", pr{i + 1} AS (
  SELECT e.dst AS node,
         (15 * ({_PR_SCALE} // (SELECT n FROM n))) // 100
           + (85 * SUM(p.pr // g.d)) // 100 AS pr
  FROM edges e
  JOIN pr{i} p ON p.node = e.src
  JOIN deg g ON g.src = e.src
  GROUP BY e.dst
)"""
    return (
        head
        + body
        + f"""
SELECT node AS partkey, CAST(pr AS BIGINT) AS pagerank_micro
FROM pr{_PR_ITERS}"""
    )


@register("analytics_pagerank", oracle=_pagerank_oracle(), section="A1,J1")
def analytics_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the co-purchase graph (parts sharing an order, the
    undirected basket graph) — iterative graph analytics on warehouse
    data, the second fixpoint algorithm next to connected_components.

    Distributed shape: the rank vector lives as a DataFrame; each power
    iteration is contribution-join (rank/degree along edges) + sum per
    destination + damping, with ``localCheckpoint`` (DISK_ONLY, r13:
    the default storage level materializes each partition as ONE
    deserialized in-memory array — at the 100× probe's ~10⁸-row
    co-purchase edge set that killed the JVM mid-tier, the same failure
    class the LSH kernels hit in r11) pinning the lineage flat.

    CO-PARTITIONED LOOP (r14, verdict #7): the static (src, dst, d)
    frame used to be re-shuffled EVERY round — under AQE the
    checkpoint's LogicalRDD captures UnknownPartitioning, so each
    iteration paid two O(edges) exchanges. The loop now runs inside an
    adaptive=false bracket: the classic planner's checkpoints preserve
    HashPartitioning(src) on ``g`` and HashPartitioning(dst→src, same
    width) on each round's rank vector, so the contribution join is
    exchange-free and each round pays exactly ONE shuffle — the
    per-destination sum, which is inherent to the graph. (AQE buys
    nothing inside the loop: the join never needs skew-splitting
    because it never shuffles, and the fixed width IS the alignment.)
    Measured at the 100× probe corpus: see PLANS.md r14. The bracket
    is NOT a session-global toggle: the loop runs in a memoized
    ``newSession()`` clone — own SQLConf (adaptive=false stays scoped
    to this builder), shared SparkContext (the checkpointed RDDs and
    the returned frame are fully usable by the caller) — so concurrent
    work on the caller's session keeps AQE, unlike the winnow Arrow
    bracket whose input frame is session-pinned by its caller. Nothing
    collects: driver state is zero (fixed iteration count). Every node
    in the undirected graph has out-degree ≥ 1, so there is no
    dangling-mass term. Cross-engine exactness: rank mass is BIGINT
    micro-units (scale 10^12) and every step is integer floor-division
    — the whole fixpoint is bit-identical on any engine, no float
    rounding negotiations (a 10-dp-round double variant was tried
    first and hit a half-way boundary on one node; integers make the
    class of bug impossible). Output stays in micro-units for the
    same reason."""
    s = _noaqe_session(spark)
    lines = (
        load_table(s, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = lines.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = lines.select("l_orderkey", F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    n = deg.count()
    base = _PR_SCALE // n
    teleport = (15 * base) // 100
    pr = deg.select("src", F.lit(base).cast("bigint").alias("pr")).localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    g = edges.join(deg, "src").localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)  # (src, dst, d) — static
    for _ in range(_PR_ITERS):
        pr = (
            g.join(pr.withColumnRenamed("src", "node"), F.col("src") == F.col("node"))
            .groupBy("dst")
            .agg(
                # integer DIV end to end (matches the oracle's `//`):
                # a double `/ 100` would be exact only while
                # 85 * mass < 2^53 and silently break if _PR_SCALE grew
                (
                    F.lit(teleport).cast("bigint")
                    + F.expr("(85 * sum(pr DIV d)) DIV 100")
                )
                .cast("bigint")
                .alias("pr")
            )
            .withColumnRenamed("dst", "src")
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
    return pr.select(
        F.col("src").alias("partkey"), F.col("pr").alias("pagerank_micro")
    )


def _noaqe_session(spark: SparkSession) -> SparkSession:
    """Memoized ``newSession()`` clone with adaptive=false: own SQLConf,
    shared SparkContext. Iterative-checkpoint builders (pagerank) plan
    through it so their checkpoints preserve hash partitioning (under
    AQE a LogicalRDD captures UnknownPartitioning) WITHOUT toggling the
    caller's session conf. One clone per parent session (``memo``) — a
    fresh clone per call would re-stage the hot-cache tables (memoized
    per session) and grow the in-memory cache unboundedly across bench
    reps."""
    from ..session import prepare
    from ..sources.io import memo

    def clone() -> SparkSession:
        s = spark.newSession()
        prepare(s)
        s.conf.set("spark.sql.adaptive.enabled", "false")
        # pin against later prepare() sweeps: any load_table on the
        # clone (concurrent builders included) must NOT re-enable AQE
        # mid-iteration — see session.prepare
        s._flink_rt_pinned_confs = ("spark.sql.adaptive.enabled",)
        return s

    return memo(spark, "noaqe_session", None, clone)
