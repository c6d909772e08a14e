"""SQL entry point (SURVEY §3.2 — the reference's Table/SQL API).

The reference exposes two equivalent surfaces: the DataStream API and
``tEnv.executeSql`` (flink-table-api-java-bridge, reference
pom.xml:111-116). This engine mirrors that: every fixture table is
registered as a temp view and queries can be written as ANSI SQL via
``spark.sql`` — same Catalyst pipeline, same plans as the DataFrame
builders (asserted by the oracle match).

The SQL text here is intentionally the *same dialect* DuckDB runs as the
oracle, demonstrating surface portability.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources.io import register_views, workspace
from ..streaming.event_time import _SESSION_ORACLE as _EVENT_TIME_SESSION_ORACLE
from .registry import register

_PRICING_SQL = """
SELECT
  l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * CAST((1 - CAST(l_discount AS DECIMAL(9,4)))
                       * (1 + CAST(l_tax AS DECIMAL(9,4))) AS DECIMAL(12,8))), 2)
       AS DOUBLE) AS sum_charge,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "sql_pricing_summary", oracle=_PRICING_SQL, section="§3.2 SQL API",
    bench=True, reverify=10,
)
def sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-style pricing summary submitted as SQL text — the identical
    string runs on Spark and on the DuckDB oracle side.

    sum_charge ends in ROUND(sum, 2) before the DOUBLE cast (r10,
    found by the sf1-equivalent parity run). Two engine-divergent cast
    behaviors meet here: (1) a corpus-level money sum at scale 6
    pushes the UNSCALED decimal past 2^53 (2.8e16 at 10× sf0.1), and
    DuckDB's decimal→double goes int128→double→scale (±3e-6 drift)
    while Spark's BigDecimal path is correctly rounded; (2) a
    decimal→decimal DOWNSCALE cast truncates in DuckDB but rounds
    half-up in Spark (.3451 → .34 vs .35), so "CAST AS DECIMAL(38,2)"
    is not portable either. Explicit ROUND(x, 2) rounds half-up in
    BOTH engines and keeps the unscaled value double-exact to ~9e13
    per group (≈ sf10000) — verified bit-for-bit on the 10× corpus."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_PRICING_SQL)


_SQL_EXISTS = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49
)
GROUP BY o_orderpriority
"""


@register("sql_exists_subquery", oracle=_SQL_EXISTS, section="§3.2 SQL API,J6")
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the SQL surface — Catalyst decorrelates
    to a left-semi join (RewritePredicateSubquery, SURVEY §4)."""
    register_views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(_SQL_EXISTS)


_SQL_IN_HAVING = """
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_day,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate
"""


@register("sql_in_subquery_having", oracle=_SQL_IN_HAVING, section="§3.2 SQL API,J6,A1")
def sql_in_subquery_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN over an aggregated+HAVING subquery. Catalyst
    turns the IN into a left-semi join against the pre-aggregated
    subquery — the 100 TB plan is two shuffles on orderkey (the HAVING
    rollup and the semi join reuse the same partitioning) plus the
    final group-by. The Spark copy differs from the oracle string in
    exactly one token — date_format vs DuckDB's strftime (no shared
    date-format function exists) — and the oracle comparison asserts
    the results equal."""
    register_views(spark, sf_dir, ["customer", "orders", "lineitem"])
    return spark.sql(
        _SQL_IN_HAVING.replace(
            "strftime(o.o_orderdate, '%Y-%m-%d')",
            "date_format(o.o_orderdate, 'yyyy-MM-dd')",
        )
    )


_SQL_RECURSIVE = """
WITH RECURSIVE full_seq AS (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
seq AS (
  SELECT * FROM full_seq WHERE rn <= 5
),
chain(o_custkey, o_orderkey, rn, depth) AS (
  SELECT o_custkey, o_orderkey, rn, 1 AS depth FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.o_custkey, s.o_orderkey, s.rn, c.depth + 1
  FROM seq s JOIN chain c ON s.o_custkey = c.o_custkey AND s.rn = c.rn + 1
)
SELECT o_custkey, o_orderkey, CAST(depth AS BIGINT) AS depth FROM chain
"""


@register("sql_recursive_cte", oracle=_SQL_RECURSIVE, section="§3.2 SQL API")
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE): walk each customer's
    first-5 order sequence as a linked list — the recursion step is a
    self-join per iteration, executed by Spark's iterative recursion
    operator (which re-evaluates the anchor CTE each round: bound the
    walk depth, or materialize the anchor, in production). The
    IDENTICAL SQL string runs on DuckDB as the oracle, and depth == rn
    by construction, so the closure is fully value-checked.

    SCALE GUIDANCE (r13, measured): this id exists to cover the SQL
    SYNTAX. The recursion operator is NOT a scale path — at the 100×
    probe corpus (15M orders) it did not finish in 50 minutes (anchor
    re-evaluated per level, serialized loop), while the semantically
    identical depth==row_number walk (a partitioned window, the
    winfn_rownum_dedup shape) runs the same corpus in ~1.7 s. For
    bounded-depth sequences on real data, use the window form; reserve
    WITH RECURSIVE for genuinely unbounded closures on SMALL frames.
    session.prepare raises spark.sql.cteRecursionRowLimit (the default
    1M-row cap is toy-scale and rows are the wrong runaway signal for
    a linear closure; the 100-level limit stays as the runaway guard).
    ``sql_recursive_cte_iterative`` is the registered SCALE-SAFE TWIN:
    the same rows from a driver-bounded iterative DataFrame walk."""
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_SQL_RECURSIVE)


@register(
    "sql_recursive_cte_iterative", oracle=_SQL_RECURSIVE,
    section="§3.2 SQL API,W1",
)
def sql_recursive_cte_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE TWIN of ``sql_recursive_cte`` (r14, verdict #4):
    the identical bounded-depth closure — each customer's first-5 order
    chain with its recursion depth — expressed as an ITERATIVE
    DataFrame level walk (the pagerank/connected-components fixpoint
    idiom, plans/analytics.py:853) instead of Spark's WITH RECURSIVE
    operator, and checked against the SAME DuckDB recursive-SQL oracle.

    Shape: the ranked sequence frame is built once (one window shuffle
    on o_custkey), then pinned via DISK_ONLY ``localCheckpoint`` taken
    under the ``_noaqe_session`` clone (plans/analytics.py — under AQE
    a checkpoint's LogicalRDD captures UnknownPartitioning, which would
    silently re-shuffle both sides of every level; the clone's classic
    planner preserves HashPartitioning(o_custkey)), and every level's
    frontier join runs CO-PARTITIONED against it: zero additional
    exchanges across all levels, driver state is a fixed loop counter.
    Measured against the recursive operator at the 100× probe corpus
    (15M orders): the operator form did not finish in 50 minutes (it
    re-evaluates the anchor per level and serializes the loop); this
    walk is seconds-class (BENCH sf10_probe). That asymmetry — not a
    missing feature — is why both ids exist: ``sql_recursive_cte``
    covers the SQL syntax surface, this id is the plan you'd run."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from ..sources.io import load_table
    from .analytics import _noaqe_session

    s = _noaqe_session(spark)
    orders = load_table(s, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = (
        orders
        .select("o_custkey", "o_orderkey", "o_orderdate")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("o_custkey", "o_orderkey", "rn")
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    frontier = seq.filter(F.col("rn") == 1).withColumn(
        "depth", F.lit(1).cast("bigint")
    )
    levels = [frontier]
    for _ in range(4):  # depth bound 5, matching the recursive CTE
        frontier = (
            seq.join(
                frontier.select(
                    "o_custkey", F.col("rn").alias("__prev_rn"), "depth"
                ),
                "o_custkey",
            )
            # the increment is written as a RESIDUAL (rn − prev = 1):
            # spelled rn == __prev_rn + 1, Catalyst extracts it into
            # the join keys, widening them to (rn, o_custkey) and
            # re-shuffling BOTH sides on the composite every level —
            # exactly the exchange the o_custkey co-partitioning
            # exists to avoid (plan pinned by pytest)
            .filter(F.col("rn") - F.col("__prev_rn") == 1)
            .select(
                "o_custkey", "o_orderkey", "rn",
                (F.col("depth") + 1).alias("depth"),
            )
            # per-level checkpoint (the pagerank idiom): the frontier
            # is otherwise a LAZY chain — level k's plan re-executes
            # levels 1..k-1, making total work O(levels²) in seq scans
            # (measured 23 s vs 6 s at the 100× corpus). Checkpointed,
            # each level is one co-partitioned merge of two disk scans
            # and the union reads materialized levels.
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
        levels.append(frontier)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select("o_custkey", "o_orderkey", "depth")


_SQL_CORRELATED_SCALAR = """
SELECT l.l_orderkey, l.l_linenumber, CAST(l.l_quantity AS DOUBLE) AS qty
FROM lineitem l
WHERE l.l_quantity = (
  SELECT MAX(l2.l_quantity) FROM lineitem l2
  WHERE l2.l_orderkey = l.l_orderkey
)
"""


@register("sql_correlated_scalar", oracle=_SQL_CORRELATED_SCALAR, section="§3.2 SQL API,J6,W1")
def sql_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery (per-order max): Catalyst decorrelates
    into an aggregate + join on the correlation key — at scale one
    shuffle of lineitem by orderkey feeding both sides. MAX keeps the
    comparison exact (decimal equality, no float boundary), so both
    engines select identical rows. The identical SQL string runs on
    Spark and DuckDB."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_SQL_CORRELATED_SCALAR)


_SQL_NOT_IN = """
SELECT p_brand, COUNT(*) AS n_parts
FROM part
WHERE p_partkey NOT IN (
  SELECT l_partkey FROM lineitem WHERE l_quantity >= 48
)
GROUP BY p_brand
"""


@register("sql_not_in_subquery", oracle=_SQL_NOT_IN, section="§3.2 SQL API,J6")
def sql_not_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a subquery — the null-semantics trap operator: both
    engines implement three-valued NOT IN (one NULL in the subquery
    empties the result), and Catalyst plans it as a null-aware anti
    join. The subquery column here is non-null, so the anti join is the
    plain fast path; the identical string runs on DuckDB."""
    register_views(spark, sf_dir, ["part", "lineitem"])
    return spark.sql(_SQL_NOT_IN)


_SQL_Q22 = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
FROM customer c
WHERE CAST(c_acctbal AS DOUBLE) > (
        SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*)
        FROM customer c2 WHERE c2.c_acctbal > 0
      )
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1998-01-01')
GROUP BY c_mktsegment
"""


@register("sql_antijoin_avg_subquery", oracle=_SQL_Q22, section="§3.2 SQL API,J6,A1")
def sql_antijoin_avg_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no RECENT
    orders (none since 1998; every fixture customer has some order) —
    an uncorrelated scalar average subquery plus a correlated NOT
    EXISTS (→ left-anti join). The average divides an exact decimal sum
    (cast to double) by an exact count, so the comparison boundary is
    identical on both engines (parity rule: never decimal division).
    The identical SQL string runs on DuckDB."""
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_SQL_Q22)


_SQL_LATERAL = """
SELECT n.n_name AS nation, t.c_name, t.c_acctbal
FROM nation n, LATERAL (
  SELECT c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
  FROM customer c WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 2
) t
"""


@register("sql_lateral_topn", oracle=_SQL_LATERAL, section="§3.2 SQL API,J6,W1")
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the
    top-N-per-group shape written as a lateral join instead of a window
    function; Catalyst decorrelates it into a partitioned group-limit.
    The identical SQL string runs on DuckDB."""
    register_views(spark, sf_dir, ["nation", "customer"])
    return spark.sql(_SQL_LATERAL)


_SQL_Q7 = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
         CAST(l.l_extendedprice AS DECIMAL(18,4))
           * (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@register("sql_bilateral_volume", oracle=_SQL_Q7, section="§3.2 SQL API,J1,J2,A1")
def sql_bilateral_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year —
    the SAME dimension table joined in two roles (supplier's nation and
    customer's nation) with a disjunctive cross-filter. Catalyst plans
    both nation joins as broadcasts and pushes the OR-pair filter into
    the joined result; the identical SQL string runs on DuckDB."""
    register_views(
        spark, sf_dir, ["supplier", "lineitem", "orders", "customer", "nation"]
    )
    return spark.sql(_SQL_Q7)


_SQL_Q9 = """
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n.n_name AS nation,
         CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
         CAST(l.l_extendedprice AS DECIMAL(18,4))
           * (1 - CAST(l.l_discount AS DECIMAL(18,4))) AS amount
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
"""


@register("sql_product_profit", oracle=_SQL_Q9, section="§3.2 SQL API,J1,J2,A1", bench=True)
def sql_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (partsupp-free form): product-line profit by
    supplier nation and order year — a 5-table join tree whose LIKE
    filter on the part name prunes the fact rows through the first
    join. Join-order freedom here is exactly what a cost-based
    optimizer exists for; Catalyst + AQE reorder and broadcast the dims."""
    register_views(
        spark, sf_dir, ["part", "lineitem", "supplier", "orders", "nation"]
    )
    return spark.sql(_SQL_Q9)


_SQL_Q19 = """
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
             * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 21)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 40)
"""


@register("sql_disjunctive_filter", oracle=_SQL_Q19, section="§3.2 SQL API,J1,F2")
def sql_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicates spanning both join sides.
    The optimizer test: common conjuncts factor out, the part-only
    disjuncts (brand/size) push below the join to prune the build side,
    and the residual mixed predicate evaluates post-join — Catalyst's
    predicate normalization does all three from this one declarative
    string."""
    register_views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(_SQL_Q19)


_SQL_Q21 = """
SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s.s_name
"""


@register("sql_waiting_supplier", oracle=_SQL_Q21, section="§3.2 SQL API,J6,A1")
def sql_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (shipdate-lateness form): suppliers who were the
    ONLY late shipper on a finished multi-supplier order — a correlated
    EXISTS plus a doubly-correlated NOT EXISTS (it references both l1
    and o). Catalyst decorrelates to a left-semi and a null-safe
    left-anti join on l_orderkey; the identical string runs on DuckDB."""
    register_views(spark, sf_dir, ["supplier", "lineitem", "orders"])
    return spark.sql(_SQL_Q21)


_SQL_Q12 = """
SELECT o.o_orderpriority,
       CAST(SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                     THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
       CAST(SUM(CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
                     THEN 1 ELSE 0 END) AS BIGINT) AS ontime_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_returnflag <> 'R'
GROUP BY o.o_orderpriority
"""


@register("sql_shipping_priority", oracle=_SQL_Q12, section="§3.2 SQL API,J1,A6")
def sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (lateness-bucket form — this dataset has no
    l_shipmode/l_receiptdate, so the late/on-time split keys on
    shipdate lag vs order date): per-priority conditional counts over
    one fact join. Catalyst folds both CASE branches into a single
    aggregate pass — one shuffle on the 5-row priority key; the
    identical string runs on DuckDB."""
    register_views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(_SQL_Q12)


_SQL_Q13 = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) t
GROUP BY c_count
"""


@register("sql_customer_distribution", oracle=_SQL_Q13, section="§3.2 SQL API,J3,A1")
def sql_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution through a
    LEFT OUTER join with a join-side filter (the filter lives in the ON
    clause, so no-order customers survive with count 0) and a double
    aggregation. Scale note: the first groupBy shuffles on c_custkey
    (high cardinality, well distributed); the second on the tiny
    c_count domain — AQE coalesces it to a handful of tasks."""
    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(_SQL_Q13)


_SQL_Q17 = """
SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
            / 7.0 AS DOUBLE) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < (
    SELECT 0.2 * AVG(l2.l_quantity)
    FROM lineitem l2
    WHERE l2.l_partkey = p.p_partkey
  )
"""


@register("sql_small_qty_revenue", oracle=_SQL_Q17, section="§3.2 SQL API,J1,A1")
def sql_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity orders of one brand,
    gated by a correlated scalar AVG per part. Catalyst decorrelates the
    subquery into an aggregate-then-join on l_partkey — the per-part
    average is computed once in a partial-aggregated shuffle, never per
    probe row. The identical string runs on DuckDB."""
    register_views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(_SQL_Q17)


_SQL_Q6 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
              * CAST(l_discount AS DECIMAL(9,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount > 0.045 AND l_discount < 0.075
  AND l_quantity < 24
"""


@register("sql_forecast_revenue", oracle=_SQL_Q6, section="§3.2 SQL API,F2,A1")
def sql_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: forecasting revenue change — a pure scan-side query
    (no join). Every conjunct (shipdate range, discount band, quantity
    cap) lands in PushedFilters and the scan reads 4 of 11 columns;
    the aggregate is a single partial/final pair over one exchange of
    one row per partition. The discount band uses strict bounds between
    the two-decimal grid points (0.045/0.075) so double comparison is
    unambiguous on both engines; the money sum is exact DECIMAL cast to
    DOUBLE last. Identical SQL string on Spark and DuckDB."""
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_SQL_Q6)


_SQL_Q2 = """
WITH supply AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(l_extendedprice / l_quantity) AS ps_supplycost
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)
SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_type,
       CAST(ps.ps_supplycost AS DOUBLE) AS supplycost
FROM part p
JOIN supply ps ON ps.ps_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE p.p_size <= 5 AND p.p_type = 'LARGE' AND r.r_name = 'EUROPE'
  AND ps.ps_supplycost = (
    SELECT MIN(ps2.ps_supplycost)
    FROM supply ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
    WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE'
  )
ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
"""


@register("sql_min_cost_supplier", oracle=_SQL_Q2, section="§3.2 SQL API,J1,J2,J6,A1")
def sql_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part within a region,
    selected by a correlated scalar MIN subquery. The fixture has no
    partsupp table, so supply costs derive from lineitem (min observed
    unit price per part-supplier pair) — the plan shape is Q2's exactly:
    the correlated MIN decorrelates to a per-part aggregate joined back,
    the region/nation dims broadcast, and the final TakeOrderedAndProject
    caps the result at 100. The unit-price division is the same IEEE
    double op on both engines, so the MIN-equality predicate is exact.
    Identical SQL string on Spark and DuckDB."""
    register_views(
        spark, sf_dir, ["lineitem", "part", "supplier", "nation", "region"]
    )
    return spark.sql(_SQL_Q2)


_SQL_Q11 = """
WITH supply_value AS (
  SELECT l.l_partkey AS partkey,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS val
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_7'
  GROUP BY l.l_partkey
)
SELECT partkey, CAST(val AS DOUBLE) AS part_value
FROM supply_value
WHERE val > (SELECT SUM(val) * 0.001 FROM supply_value)
ORDER BY part_value DESC, partkey
"""


@register("sql_important_stock", oracle=_SQL_Q11, section="§3.2 SQL API,J1,A1")
def sql_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose supply value from one nation exceeds
    a fraction of that nation's total — an uncorrelated scalar aggregate
    subquery over the SAME derived table the outer query reads. Catalyst
    evaluates the CTE once per reference; both the outer scan and the
    global-sum threshold are partial-aggregated before their exchanges.
    All value math stays in exact DECIMAL until the final DOUBLE cast,
    so the threshold comparison cannot flip on float rounding. Identical
    SQL string on Spark and DuckDB."""
    register_views(spark, sf_dir, ["lineitem", "supplier", "nation"])
    return spark.sql(_SQL_Q11)


_SQL_Q16 = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_type <> 'MEDIUM'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


@register("sql_parts_supplier_kinds", oracle=_SQL_Q16, section="§3.2 SQL API,J1,J6,A3")
def sql_parts_supplier_kinds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many suppliers can furnish each surviving
    (brand, type, size) kind, excluding a NOT IN blacklist (negative
    account balance stands in for the comment-based complaint filter —
    the fixture has no s_comment). The NOT IN compiles to a null-aware
    anti join against the tiny supplier side; the part predicates prune
    the build side before the fact join; COUNT(DISTINCT) runs as the
    two-phase distinct-aggregate expansion. Identical SQL string on
    Spark and DuckDB. Predicates chosen to be LIVE on the fixture:
    Brand#5 exists at every SF (brands run #1-#25), and the blacklist
    is non-empty at sf0.01+ (6 of 100 suppliers), so both exclusions
    are exercised where the driver verifies parity."""
    register_views(spark, sf_dir, ["lineitem", "part", "supplier"])
    return spark.sql(_SQL_Q16)


_SQL_Q20 = """
WITH part_shipped AS (
  SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
  FROM lineitem
  GROUP BY l_partkey
)
SELECT s.s_name, CAST(s.s_acctbal AS DOUBLE) AS acctbal
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND s.s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN part_shipped t ON t.l_partkey = l.l_partkey
    WHERE p.p_name LIKE 'red%'
    GROUP BY l.l_suppkey, l.l_partkey, t.total_qty
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,2))) > 0.12 * t.total_qty
  )
ORDER BY s.s_name
"""


@register("sql_excess_inventory", oracle=_SQL_Q20, section="§3.2 SQL API,J1,J6,A1,A6")
def sql_excess_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one region who dominate the supply
    of a part family (shipped share > 12% of a 'red%' part's total — the
    partsupp availqty-vs-half-shipped test re-expressed over lineitem).
    The inner query is the Q20 skeleton: IN-subquery → left-semi join;
    per-(supplier, part) aggregate HAVING-gated against a pre-aggregated
    per-part total joined in BEFORE grouping (no correlated aggregate in
    HAVING — portable and decorrelation-free by construction). Quantity
    sums stay in DECIMAL so the 0.12 threshold compare is exact.
    Identical SQL string on Spark and DuckDB."""
    register_views(
        spark, sf_dir, ["lineitem", "part", "supplier", "nation", "region"]
    )
    return spark.sql(_SQL_Q20)


_SQL_DDL_ORACLE = """
SELECT n_name AS nation, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_balance
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@register("sql_ddl_roundtrip", oracle=_SQL_DDL_ORACLE, section="§3.2 SQL API,S7,S8")
def sql_ddl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point 2 exercised as DDL+DML, not just SELECT (the
    reference's `tEnv.executeSql("CREATE TABLE … WITH (…)") / INSERT
    INTO` surface, SURVEY §3.2): CREATE TABLE USING parquet at an
    explicit location, INSERT INTO … SELECT a joined aggregate, then
    read the TABLE back by name. The whole path — catalog DDL,
    SQL-string insert through the same Catalyst pipeline, table-name
    scan — must reproduce the direct query bit-for-bit (full oracle).
    Per-call table name and location (a ``workspace`` dir): no
    cross-run state."""
    import os

    register_views(spark, sf_dir, ["customer", "nation"])
    loc = workspace("sql_ddl_nation_balances_")
    table = os.path.basename(loc)
    spark.sql(
        f"""CREATE TABLE {table}
            (nation STRING, n_customers BIGINT, total_balance DOUBLE)
            USING parquet LOCATION '{loc}'"""
    )
    spark.sql(
        f"""INSERT OVERWRITE TABLE {table}
            SELECT n_name AS nation, COUNT(*) AS n_customers,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                     AS total_balance
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name"""
    )
    return spark.sql(f"SELECT * FROM {table}")


_DQ_ORACLE = """
SELECT rule, n_violations FROM (
  SELECT 'orders_totalprice_positive' AS rule,
         CAST(COUNT(*) FILTER (o_totalprice <= 0) AS BIGINT) AS n_violations
  FROM orders
  UNION ALL
  SELECT 'orders_status_domain',
         CAST(COUNT(*) FILTER (o_orderstatus NOT IN ('F','O','P')) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'lineitem_quantity_range',
         CAST(COUNT(*) FILTER (l_quantity < 1 OR l_quantity > 50) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_discount_range',
         CAST(COUNT(*) FILTER (l_discount < 0 OR l_discount > 1) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_orderkey_fk',
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem l WHERE NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
)
"""


@register("dq_expectations", oracle=_DQ_ORACLE, section="F2,A6,J6")
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations over the fact tables — the validation
    pass every ingestion pipeline runs before publishing a batch
    (Great-Expectations/Deequ shape, as a single engine query):
    range, domain, cross-column, and referential-integrity rules, each
    reported as (rule, n_violations). Conditional aggregation turns N
    row-level rules over one table into ONE scan (no per-rule passes);
    the FK rule is a left-anti join (J6). All violation counts are 0 on
    the TPC-H-consistent fixtures — the oracle proves the CHECKS
    compute the same thing, not merely that the data is clean."""
    from ..sources.io import load_table

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    orders_rules = o.agg(
        cnt(F.col("o_totalprice") <= 0).alias("orders_totalprice_positive"),
        cnt(~F.col("o_orderstatus").isin("F", "O", "P")).alias("orders_status_domain"),
    )
    li_rules = li.agg(
        cnt((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias(
            "lineitem_quantity_range"
        ),
        cnt((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias(
            "lineitem_discount_range"
        ),
    )
    fk = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("lineitem_orderkey_fk"))
    )

    def unpivot(df):
        pairs = [
            F.struct(F.lit(c).alias("rule"), F.col(c).alias("n_violations"))
            for c in df.columns
        ]
        return df.select(F.explode(F.array(*pairs)).alias("r")).select(
            "r.rule", "r.n_violations"
        )

    return unpivot(orders_rules).unionByName(unpivot(li_rules)).unionByName(unpivot(fk))


_SQL_TUMBLE_ORACLE = """
SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600000 AS window_start_ms,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@register("sql_window_tumble", oracle=_SQL_TUMBLE_ORACLE, section="§3.2 SQL API,T2")
def sql_window_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink SQL's TUMBLE TVF surface on Spark: the SAME tumbling
    aggregation the DataFrame twin (window_tumbling) runs, expressed as
    a SQL string over the registered events view — `GROUP BY
    window(ts, '1 hour')` through the full parse→analyze→optimize
    pipeline. Window bounds exported as epoch-ms so DuckDB's integer
    bucketing reproduces them exactly."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """SELECT unix_millis(window.start) AS window_start_ms,
                  event_type,
                  COUNT(*) AS n,
                  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
           FROM events
           GROUP BY window(ts, '1 hour'), event_type"""
    )


_SQL_UDF_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
            AS BIGINT) AS n_tokens
FROM documents
"""


@register("sql_udf_call", oracle=_SQL_UDF_ORACLE, section="§3.2 SQL API,U1")
def sql_udf_call(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 through the SQL surface: an Arrow pandas UDF REGISTERED into
    the session catalog (`spark.udf.register`) and invoked from a SQL
    string — the reference's `CREATE FUNCTION` / catalog-UDF path
    (Flink table-env registered functions). Same tokenizer kernel the
    DataFrame surface uses; the oracle recomputes it with DuckDB
    regexps, so registration, dispatch, and the kernel are all under
    the hash."""
    from ..functions.udfs import bpe_ish_token_count_udf

    register_views(spark, sf_dir, ["documents"])
    spark.udf.register("tok_count", bpe_ish_token_count_udf())
    return spark.sql(
        "SELECT doc_id, tok_count(text) AS n_tokens FROM documents"
    )


_SQL_HOP_ORACLE = """
WITH e AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value FROM events
), w AS (
  SELECT ((us // 1800000000) - k.k) * 1800000000 AS ws, event_type, value
  FROM e, (SELECT unnest([0, 1]) AS k) k
)
SELECT ws // 1000 AS window_start_ms, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM w GROUP BY 1, 2
"""


_SQL_CUMULATE_ORACLE = """
WITH e AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms, event_type, value FROM events
), w AS (
  SELECT (ms // 3600000) * 3600000 AS ws,
         (ms // 3600000) * 3600000 + k.k * 900000 AS we,
         event_type, value
  FROM e, (SELECT unnest([1, 2, 3, 4]) AS k) k
  WHERE (ms // 3600000) * 3600000 + k.k * 900000 > ms
)
SELECT ws AS window_start_ms, we AS window_end_ms, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM w GROUP BY 1, 2, 3
"""


@register("sql_window_cumulate", oracle=_SQL_CUMULATE_ORACLE, section="§3.2 SQL API,T2")
def sql_window_cumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink 1.17 SQL's CUMULATE window TVF (the third of the TVF trio,
    flink-table-planner, reference pom.xml:118-123): expanding slices
    of a 1-hour max window with a 15-minute step — the early-fire
    dashboard pattern ("today's GMV so far, refreshed every step").
    Every event at offset o into its hour lands in the slices
    ``[hour, hour + k*step)`` for all ``k > o/step`` up to
    max_size/step, so a count over slice k is the CUMULATIVE count of
    the hour's first k steps.

    Spark has no cumulate TVF; the expansion IS the implementation:
    ``explode(sequence(kmin, 4))`` fans each event into exactly the
    slices that contain it (kmin = floor(o/step)+1 — an event on a
    slice boundary belongs to the NEXT slice on, window ends are
    exclusive), then a plain GROUP BY aggregates. At scale the fan-out
    factor is max_size/step (a constant, here ≤4) applied map-side
    before the one shuffle — the same cost shape Flink's slice-based
    cumulate pays. The DuckDB oracle reproduces the expansion with an
    unnest + the boundary-strict ``end > ms`` filter, so slice
    assignment arithmetic is hash-checked."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """WITH e AS (
             SELECT unix_millis(ts) AS ms, event_type, value FROM events
           )
           SELECT (ms div 3600000) * 3600000 AS window_start_ms,
                  (ms div 3600000) * 3600000 + k * 900000 AS window_end_ms,
                  event_type,
                  COUNT(*) AS n,
                  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
           FROM e
           LATERAL VIEW explode(
             sequence(CAST((ms % 3600000) div 900000 AS INT) + 1, 4)
           ) s AS k
           GROUP BY 1, 2, 3"""
    )


@register("sql_window_session", oracle=_EVENT_TIME_SESSION_ORACLE, section="§3.2 SQL API,T4")
def sql_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 through the SQL surface: the SAME 30-minute-gap sessionization
    the DataFrame twin (streaming/event_time.py window_session) proves,
    submitted as SQL text — ``GROUP BY session_window(ts, '30
    minutes')`` through the full parse→analyze→optimize pipeline, so
    every windowing mode (tumble/hop/cumulate/session) now has both
    entry points like the reference's Table/SQL API. Shares the
    DataFrame twin's gaps-and-islands DuckDB oracle."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """SELECT user_id,
                  unix_micros(session_window.start) AS session_start_us,
                  unix_micros(session_window.end) AS session_end_us,
                  COUNT(*) AS n_events,
                  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
           FROM events
           GROUP BY session_window(ts, '30 minutes'), user_id"""
    )


@register("sql_window_hop", oracle=_SQL_HOP_ORACLE, section="§3.2 SQL API,T3")
def sql_window_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink SQL's HOP (sliding window) TVF surface: 1-hour windows
    sliding every 30 minutes — every event lands in exactly TWO
    windows. Spark SQL's 3-arg window() through the full SQL pipeline;
    the oracle replicates the event→window fan-out with an explicit
    2-row unnest (window/slide = 2), so assignment arithmetic is
    hash-checked, not just row counts."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """SELECT unix_millis(window.start) AS window_start_ms,
                  event_type,
                  COUNT(*) AS n,
                  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
           FROM events
           GROUP BY window(ts, '1 hour', '30 minutes'), event_type"""
    )
