"""SQL OVER() window functions (SURVEY §2.5).

Reference surface: the Flink planner's Rank / Deduplication / OverAgg
stream operators (flink-table-planner pom.xml:118-123) — ROW_NUMBER
dedup ("latest row per key") is the workhorse of the reference's DIM
layer (latest CDC image) and top-N DWS queries.

Determinism rule: every ORDER BY carries a unique tiebreaker
(orderkey / event_id) so row_number/ntile/frames are reproducible and
engine-independent.

Scale notes: a window over PARTITION BY k is one hash shuffle on k +
per-partition sort — same cost shape as groupBy. No global sort unless
the partition clause is empty (avoided below).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..sources.io import load_table
from ..plans.registry import register
from ._util import dec, ts_ms, ORACLE_TS_MS

# --- W1 row_number dedup (latest per key) --------------------------------------

_DEDUP_ORACLE = """
SELECT o_custkey, o_orderkey AS latest_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS latest_orderdate
FROM orders
QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
"""


@register("winfn_rownum_dedup", oracle=_DEDUP_ORACLE, section="W1,T6")
def winfn_rownum_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 keep-latest-per-key — the reference's CDC dedup / DIM-latest
    pattern (Flink Deduplication operator) and the batch twin of
    dropDuplicatesWithinWatermark (T6)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_orderdate"),
        )
    )


_TOPN_ORACLE = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
"""


@register("winfn_topn", oracle=_TOPN_ORACLE, section="W1", bench=True)
def winfn_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 per-group top-N (Flink Rank operator). Spark pushes a per-
    partition rank limit before the final filter (WindowGroupLimit)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    # the filter stays on the raw row_number() so Spark can push it down
    # as a WindowGroupLimit; the cast after it gives the oracle's BIGINT
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_orderpriority", "o_orderkey", "o_totalprice", F.col("rn").cast("bigint").alias("rn")
        )
    )


# --- W2 rank / dense_rank ---------------------------------------------------------

_RANK_ORACLE = """
SELECT s_suppkey, s_nationkey, s_acctbal,
       RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS rnk,
       DENSE_RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS drnk
FROM supplier
"""


@register("winfn_rank", oracle=_RANK_ORACLE, section="W2")
def winfn_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 rank/dense_rank — tie-tolerant (equal acctbal ⇒ equal rank, so
    the values are deterministic without a tiebreaker). Spark's ranks
    are INTEGER; cast to the oracle's BIGINT."""
    supplier = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc())
    return supplier.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
    )


# --- W3 lag / lead ------------------------------------------------------------------

_LAG_ORACLE = f"""
WITH e AS (SELECT event_id, user_id, {ORACLE_TS_MS} AS ms FROM events)
SELECT event_id, user_id,
       COALESCE(ms - LAG(ms)  OVER w, -1) AS gap_prev_ms,
       COALESCE(LEAD(ms) OVER w - ms, -1) AS gap_next_ms
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
"""


@register("winfn_lag_lead", oracle=_LAG_ORACLE, section="W3")
def winfn_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 lag/lead — inter-event gaps per user (sessionization precursor).
    NULL edges coalesced to -1 to keep the column integer-typed."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_id", "user_id", ts_ms().alias("ms"))
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("ms") - F.lag("ms").over(w), F.lit(-1)).alias("gap_prev_ms"),
        F.coalesce(F.lead("ms").over(w) - F.col("ms"), F.lit(-1)).alias("gap_next_ms"),
    )


# --- W4 frame aggregates (running totals) ----------------------------------------------

_RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_spend,
       ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         AS order_seq
FROM orders
"""


@register("winfn_running_sum", oracle=_RUNNING_ORACLE, section="W4")
def winfn_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 ROWS-frame running total per customer. DECIMAL accumulation over
    a deterministic total order ⇒ engine-identical prefixes."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


# --- W5 analytic surface ------------------------------------------------------------------

_ANALYTIC_ORACLE = """
SELECT o_orderkey, o_orderstatus,
       NTILE(4) OVER w AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       FIRST_VALUE(o_orderkey) OVER w AS cheapest_key,
       LAST_VALUE(o_orderkey)
         OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS priciest_key
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
"""


_RANGE_FRAME_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(epoch_ms(o_orderdate) // 86400000 AS BIGINT) AS day_num,
         CAST(o_totalprice AS DECIMAL(18,4)) AS price
  FROM orders
)
SELECT o_custkey, o_orderkey, day_num,
       CAST(SUM(price) OVER (
         PARTITION BY o_custkey ORDER BY day_num
         RANGE BETWEEN 90 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS spend_90d
FROM o
"""


@register("winfn_range_frame", oracle=_RANGE_FRAME_ORACLE, section="W4,X2")
def winfn_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 VALUE-range frame (vs the ROWS frames elsewhere): rolling
    90-day spend per customer — the frame is bounded by the ORDER-BY
    VALUE (day number), not a row count, so same-day orders aggregate
    together and sparse history windows shrink correctly. Time is
    reduced to an integer day number so both engines' RANGE semantics
    are identical; the sum is exact decimal, cast double last."""
    orders = load_table(spark, sf_dir, "orders")
    day_num = (F.unix_millis(F.col("o_orderdate").cast("timestamp")) / 86400000).cast(
        "bigint"
    )
    o = orders.select(
        "o_custkey", "o_orderkey", day_num.alias("day_num"), dec("o_totalprice").alias("price")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_num")
        .rangeBetween(-90, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "day_num",
        F.sum("price").over(w).cast("double").alias("spend_90d"),
    )


_DISTRIBUTION_ORACLE = """
SELECT o_orderkey, o_orderstatus,
       CUME_DIST() OVER w AS cd,
       NTH_VALUE(o_orderkey, 2)
         OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS second_cheapest
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
"""


@register("winfn_distribution", oracle=_DISTRIBUTION_ORACLE, section="W5")
def winfn_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 distribution analytics: cume_dist (exact rational n/m — IEEE
    division is engine-identical) and nth_value over the full frame
    (default running frame would see fewer than n rows early on)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_cheapest"),
    )


@register("winfn_analytic", oracle=_ANALYTIC_ORACLE, section="W5")
def winfn_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 ntile / percent_rank / first_value / last_value (full frame for
    last_value, else it sees only the running frame)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.last("o_orderkey").over(wfull).alias("priciest_key"),
    )


_GAP_FILL_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CASE WHEN o_orderstatus = 'F'
              THEN CAST(o_totalprice AS DOUBLE) END AS f_price
  FROM orders
)
SELECT o_custkey, o_orderkey, f_price,
       last_value(f_price IGNORE NULLS) OVER (
         PARTITION BY o_custkey ORDER BY o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled
FROM o
"""


@register("winfn_gap_fill", oracle=_GAP_FILL_ORACLE, section="W3,W4")
def winfn_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/W4 forward-fill (gap fill): last non-NULL value per key up to
    the current row — last_value with IGNORE NULLS over a running
    frame, the standard sensor/SCD padding idiom. NULLs before the
    first observation stay NULL on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    f_price = F.when(
        F.col("o_orderstatus") == "F", F.col("o_totalprice").cast("double")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o = orders.select("o_custkey", "o_orderkey", f_price.alias("f_price"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        "f_price",
        F.last("f_price", ignorenulls=True).over(w).alias("filled"),
    )
