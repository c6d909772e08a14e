"""Warehouse-layer compositions (SURVEY §7 step 5) + file-format queries.

The reference's module layout is the layered real-time warehouse:
realtime-dim / realtime-dwd / realtime-dws (reference pom.xml:11-16).
These queries compose the §2 operators into that architecture's
canonical jobs, batch-testable end to end:

- ``scan_parquet`` / ``scan_csv_roundtrip`` — S8/S9 filesystem + format
  connectors (pom.xml:132-137, 60-65).
- ``warehouse_order_wide`` — the DWD wide-table job: facts joined with
  dims into a denormalized serving row (order + customer + nation).
- ``warehouse_traffic_dws`` — the DWS traffic summary: sessionized
  events rolled up per day (sessions, UV, events, revenue-ish value).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import schemas
from ..sources.io import load_table, csv_roundtrip, workspace
from ..operators._util import dec
from .registry import register

_SCAN_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_quantity >= 45
"""


@register("scan_parquet", oracle=_SCAN_ORACLE, section="S8")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 filesystem/parquet scan with predicate+projection pushdown:
    the scan reads 3 of 11 columns and both filters reach PushedFilters
    (asserted in tests/test_semantics.py::test_plan_quality)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        & (F.col("l_quantity") >= 45)
    ).select("l_orderkey", "l_linenumber", "l_quantity")


_CSV_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


@register("scan_csv_roundtrip", oracle=_CSV_ORACLE, section="S9")
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 CSV format ser/de: nation written to CSV and read back with a
    declared schema must equal the parquet original (full oracle, not
    rows-only — the roundtrip is lossless for these types)."""
    nation = load_table(spark, sf_dir, "nation")
    return csv_roundtrip(spark, nation, workspace("csv_roundtrip_")).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


_JSON_RT_ORACLE = """
SELECT r_regionkey, r_name FROM region
"""


@register("scan_json_roundtrip", oracle=_JSON_RT_ORACLE, section="S10")
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 JSON format ser/de at the file level (flink-json,
    pom.xml:53-58): region written as JSON lines and read back with the
    declared schema equals the parquet original. (Record-level JSON
    parsing is `json_extract`.)"""
    region = load_table(spark, sf_dir, "region")
    out = workspace("json_roundtrip_")
    region.write.mode("overwrite").json(out)
    return spark.read.schema(region.schema).json(out).select("r_regionkey", "r_name")


_ORDER_WIDE_ORACLE = """
SELECT o.o_orderkey,
       o.o_orderstatus,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_day,
       c.c_name, c.c_mktsegment, n.n_name AS nation,
       l.n_items,
       l.sum_qty,
       l.revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN (
  SELECT l_orderkey,
         COUNT(*) AS n_items,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
  FROM lineitem GROUP BY l_orderkey
) l ON l.l_orderkey = o.o_orderkey
"""


@register("warehouse_order_wide", oracle=_ORDER_WIDE_ORACLE, section="DWD", bench=True)
def warehouse_order_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DWD wide-table job: per-order line rollup joined with customer and
    nation dims into one denormalized row (the reference's
    dwd_trade_order_detail shape). Aggregate-before-join keeps the big
    side small ahead of the fact⋈fact shuffle. Only the fixed 25-row
    nation dim is explicitly broadcast; customer scales with SF, so its
    join shuffles on custkey (AQE may still broadcast it when small)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    li = load_table(spark, sf_dir, "lineitem")
    line_rollup = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
        .cast("double")
        .alias("revenue"),
    )
    return (
        orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(line_rollup, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            "c_name",
            "c_mktsegment",
            F.col("n_name").alias("nation"),
            "n_items",
            "sum_qty",
            "revenue",
        )
    )


_SERVING_ORACLE = """
WITH daily AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
         o_orderpriority,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1, 2
)
SELECT * FROM daily WHERE day BETWEEN '1997-01-01' AND '1997-12-31'
"""


@register("serving_partition_prune", oracle=_SERVING_ORACLE, section="S7")
def serving_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 OLAP serving sink (reference: Doris stream-load,
    realtime-common/pom.xml:50-53): the DWS daily aggregate is written
    partitioned by month — the serving table's distribution key — and
    read back with a partition filter, so the scan touches only the
    matching directories (partition pruning; asserted in
    tests/test_semantics.py). At 100 TB the dashboard query reads 12
    directories, not the year."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
    ).withColumn("month", F.substring("day", 1, 7))
    out = workspace("serving_dws_")
    daily.write.mode("overwrite").partitionBy("month").parquet(out)
    served = spark.read.parquet(out)
    # the filter targets the PARTITION column → directory-level pruning
    return served.filter(
        F.col("month").between("1997-01", "1997-12")
    ).select("day", "o_orderpriority", "n_orders", "revenue")


_TRAFFIC_ORACLE = """
WITH e AS (
  SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
), marked AS (
  SELECT user_id, value, us,
         CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                   > 1800000000 OR LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM e
), islands AS (
  SELECT user_id, value, us,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
), sessions AS (
  SELECT user_id, sid,
         MIN(us) AS start_us,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS session_value
  FROM islands GROUP BY user_id, sid
)
SELECT strftime(make_timestamp(start_us), '%Y-%m-%d') AS day,
       COUNT(*) AS n_sessions,
       COUNT(DISTINCT user_id) AS uv,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(CAST(session_value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM sessions
GROUP BY 1
"""


@register("warehouse_traffic_dws", oracle=_TRAFFIC_ORACLE, section="DWS,T4", bench=True)
def warehouse_traffic_dws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DWS traffic summary: sessionize (30-min gap), then roll up per day
    of session start — sessions, UV, events, total value. This is the
    reference's dws_traffic_* job family end to end: T4 sessionization
    feeding an A1 daily aggregate."""
    ev = load_table(spark, sf_dir, "events")
    sessions = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("start"),
            "n_events",
            "session_value",
        )
    )
    return (
        sessions.groupBy(F.date_format("start", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("uv"),
            F.sum("n_events").alias("n_events"),
            F.sum(dec("session_value")).cast("double").alias("total_value"),
        )
    )


_BUCKETED_ORACLE = """
SELECT o.o_orderkey,
       o.o_orderstatus,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS gross
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderkey, o.o_orderstatus
"""

_N_BUCKETS = 8


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders and lineitem ONCE as bucketed+sorted tables
    (bucketBy/sortBy on the order key, session catalog). This is the
    physical layout a production warehouse keeps its co-joined facts
    in: bucket files pre-hash the join key, so every subsequent join or
    aggregate on that key runs with ZERO exchanges — the
    bucketing/`repartition` co-location technique, made durable.
    Returns the two table names.

    CONTENT-ADDRESSED + SHARED: the bucket dirs are ``stage``d layouts
    (digest of the fixture file and n_buckets), so a later process
    ADOPTS an existing layout by registering external-table DDL over
    it (CLUSTERED BY ... LOCATION) instead of rewriting — bucketing is
    one-time physical layout work, and the warm bench pays only the
    catalog registration."""
    import os
    import uuid

    from ..sources.io import stage, stage_lock, table_path

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    t_orders, t_lineitem = f"b_orders_{tag}", f"b_lineitem_{tag}"
    for name, src, key in (
        (t_orders, "orders", "o_orderkey"),
        (t_lineitem, "lineitem", "l_orderkey"),
    ):
        # The tableExists guard is sound ONLY because the catalog is
        # in-memory and dies with the session — with a persistent (hive)
        # metastore a prior pid's table entry could resolve to a pruned
        # digest dir; assert the assumption so enabling hive support
        # surfaces here instead of as a missing-file read.
        assert (
            spark.conf.get("spark.sql.catalogImplementation", "in-memory")
            == "in-memory"
        ), "bucketed staging assumes a per-session in-memory catalog"

        def build(tmp: str, name=name, src=src, key=key) -> None:
            # save through a throwaway external table (uuid-unique
            # across sessions); dropping it leaves the bucket files
            scratch = f"_stage_{name}_{uuid.uuid4().hex[:8]}"
            (
                load_table(spark, sf_dir, src)
                .write.bucketBy(_N_BUCKETS, key)
                .sortBy(key)
                .option("path", tmp)
                .format("parquet")
                .saveAsTable(scratch)
            )
            spark.sql(f"DROP TABLE {scratch}")

        dst = stage(f"bucketed_{name}", [table_path(sf_dir, src)], (_N_BUCKETS,), build)
        # two in-process threads racing here would collide on the final
        # CREATE TABLE and the staleness check's DROP (the loser would
        # describe/drop a table the winner just replaced), so the
        # check-drop-create sequence sits under the destination's lock
        with stage_lock(dst):
            if spark.catalog.tableExists(name):
                # the catalog entry pins the digest dir it was created
                # on; an in-place fixture regeneration mid-session would
                # make it serve STALE bucketed data. Trust it only if
                # its LOCATION is the fresh digest dir.
                row = (
                    spark.sql(f"DESCRIBE FORMATTED {name}")
                    .filter("col_name = 'Location'")
                    .first()
                )
                loc = row["data_type"] if row else None
                if loc and loc.rstrip("/").endswith(dst):
                    continue  # fresh (possibly via the thread we waited on)
                spark.sql(f"DROP TABLE IF EXISTS {name}")  # external: files survive
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in schemas.TABLES[src].fields
            )
            spark.sql(
                f"CREATE TABLE {name} ({cols}) USING parquet "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {_N_BUCKETS} BUCKETS LOCATION '{dst}'"
            )
    return t_orders, t_lineitem


@register("warehouse_bucketed_join", oracle=_BUCKETED_ORACLE, section="S7,S8,J1,A1", bench=True)
def warehouse_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact⋈fact join over BUCKETED tables: both sides were
    written bucketBy(orderkey), so the sort-merge join consumes the
    bucket layout directly and the per-order aggregate reuses the same
    distribution — the whole plan has NO shuffle exchange (asserted in
    tests/test_semantics.py). At 100 TB this is the difference between
    re-shuffling two fact tables on every join and paying the hash
    partitioning once at write time. The merge hints pin SMJ so the
    demo doesn't degenerate to a broadcast at toy scale; the oracle
    checks values against the unbucketed originals."""
    t_orders, t_lineitem = ensure_bucketed_tables(spark, sf_dir)
    o = spark.table(t_orders).hint("merge")
    l = spark.table(t_lineitem).hint("merge")
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(dec("l_extendedprice")).cast("double").alias("gross"),
        )
    )


_COMPACTION_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS order_day
FROM orders
"""


@register("warehouse_compaction", oracle=_COMPACTION_ORACLE, section="S7,S8")
def warehouse_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the warehouse maintenance job every
    streaming ingest needs: a micro-batch sink accumulates thousands of
    KB-sized files per partition; readers then pay per-file open +
    footer costs and the NameNode/object-store pays the metadata.
    Stage: orders deliberately fragmented into 64 shards; compact with
    ``sources.maintenance.compact_parquet`` — the byte-sized,
    shuffle-free (coalesce) rewrite swapped in by two renames (not
    atomic: between them the directory is missing, see
    ``compact_parquet``). The oracle proves
    compaction is LOSSLESS (full content equality vs the original
    table); the file-count reduction is asserted inline and in
    tests/test_scale_techniques.py. At 100 TB this runs per
    partition-directory, embarrassingly parallel across partitions."""
    from ..sources.maintenance import compact_parquet

    frag = workspace("frag_orders_")
    load_table(spark, sf_dir, "orders").repartition(64).write.mode(
        "overwrite"
    ).parquet(frag)
    stats = compact_parquet(spark, frag, target_file_bytes=64 * 1024 * 1024)
    assert stats["files_after"] < stats["files_before"] // 8, stats
    return spark.read.parquet(frag).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
    )


def _zorder_key(a, b, bits: int = 16):
    """Bit-interleave two non-negative integer columns into a Z-order
    (Morton) key, JVM-side: z = Σ ((a>>i & 1) << (2i+1)) | ((b>>i & 1) << 2i).
    Files written sorted by z then carry TIGHT min/max ranges on BOTH
    columns — parquet row-group stats prune scans filtered on either.

    Callers must pass columns PRE-NORMALIZED to the same bit width
    (``_minmax_scale``): interleaving raw values whose domains differ
    by orders of magnitude degenerates to a single-column sort, because
    the narrow column's high bits are all zero and the z top bits come
    from the wide column alone (caught by the pytest footer audit at
    sf0.001, where suppkey spans 10 values vs partkey's 200)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1))
            .bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i))
        )
    return z


def _minmax_scale(col, lo: int, hi: int, bits: int = 16):
    """Scale an integer column to [0, 2^bits-1] over its observed
    [lo, hi] domain — the per-column normalization every real Z-order
    implementation applies before interleaving."""
    span = max(hi - lo, 1)
    return ((col - F.lit(lo)).cast("long") * F.lit((1 << bits) - 1) / F.lit(span)).cast(
        "long"
    )


_ZORDER_ORACLE = """
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
FROM lineitem
WHERE l_partkey BETWEEN 100 AND 400 AND l_suppkey BETWEEN 10 AND 40
"""


@register("warehouse_zorder_scan", oracle=_ZORDER_ORACLE, section="S7,S8")
def warehouse_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER clustering (Delta OPTIMIZE ZORDER BY / Iceberg sort-order
    analogue, built from Spark primitives): lineitem is written ONCE
    range-partitioned + sorted by the Morton interleave of
    (l_partkey, l_suppkey), so every output file covers a small
    rectangle of the 2-D key space and its parquet min/max stats are
    tight on BOTH columns — a scan filtered on either dimension (or
    both, as here) row-group-prunes most of the table, where a
    single-column sort helps only its own column. The oracle proves the
    clustered copy is content-identical under the selective filter; the
    actual skipping (≥ half the files prunable on file-level stats for
    BOTH predicates) is pytest-asserted from the parquet footers."""
    import os

    from ..sources.io import stage, table_path

    def build(tmp: str) -> None:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"
        )
        # one tiny stats job per clustering column (what OPTIMIZE
        # ZORDER's analyze step does) — normalization bounds
        b = li.agg(
            F.min("l_partkey").alias("p_lo"),
            F.max("l_partkey").alias("p_hi"),
            F.min("l_suppkey").alias("s_lo"),
            F.max("l_suppkey").alias("s_hi"),
        ).first()
        z = _zorder_key(
            _minmax_scale(F.col("l_partkey"), b["p_lo"], b["p_hi"]),
            _minmax_scale(F.col("l_suppkey"), b["s_lo"], b["s_hi"]),
        )
        (
            li.withColumn("z", z)
            .repartitionByRange(16, "z")
            .sortWithinPartitions("z")
            .drop("z")
            .write.parquet(tmp)
        )

    clustered = stage(
        f"zorder_lineitem_{os.path.basename(os.path.normpath(sf_dir))}",
        [table_path(sf_dir, "lineitem")], (), build,
    )
    return spark.read.parquet(clustered).filter(
        F.col("l_partkey").between(100, 400) & F.col("l_suppkey").between(10, 40)
    )
