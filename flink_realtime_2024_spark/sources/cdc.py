"""CDC changelog emulation (SURVEY §2.1 S3/S4, §3.3).

Reference surface: flink-connector-mysql-cdc 2.4.0
(realtime-common/pom.xml:33-36; pom.xml:158-162) — embedded Debezium
takes a consistent snapshot then tails the binlog, emitting envelopes
``{before, after, op, ts_ms}`` that the DIM layer routes into HBase
(realtime-common/pom.xml:39-47).

Spark has no OSS CDC source, so the engine models the changelog as an
ordered DataFrame of envelope structs (the documented SURVEY §7
decision) and provides the two canonical consumers:

- ``cdc_latest_row`` — materialize current state: latest image per key,
  deletes drop the key (the Flink Deduplication/upsert-materialize op).
- ``dim_upsert`` — apply the changelog in ts-ordered micro-batches to a
  keyed dim store (foreachBatch pattern), the reference's HBase
  put/delete sink. The store is a ``plans/lakehouse.py`` table, as for
  every keyed sink.

The synthetic changelog is derived deterministically from ``orders`` so
DuckDB can reproduce it exactly: every order inserts ('c') at its
orderdate; finished ('F') orders get an update ('u') a day later raising
o_totalprice 10%; every 50th orderkey gets a delete ('d') two days later.

Scale notes: latest-per-key is one hash shuffle on the key with a
map-side-combined MAX_BY — linear in changelog size, no driver
involvement. The dim store's MERGE is merge-on-read: each batch is
written as it arrives and reduced at read, and compaction rewrites only
the files whose key stats overlap the folded deltas, so a batch's write
cost is O(batch), not O(state).
"""

from __future__ import annotations

import functools
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..plans.registry import register
from ..operators._util import dec
from .io import load_table, stage_ordered_topic, table_path, workspace

# Common CTE (DuckDB) mirroring build_changelog()
CHANGELOG_SQL = """
changelog AS (
  SELECT o_orderkey AS key, 'c' AS op,
         o_totalprice AS totalprice, o_orderstatus AS orderstatus,
         epoch_ms(o_orderdate) AS ts_ms
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'u',
         CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 1.1 AS DOUBLE), o_orderstatus,
         epoch_ms(o_orderdate) + 86400000
  FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT o_orderkey, 'd', NULL, NULL, epoch_ms(o_orderdate) + 172800000
  FROM orders WHERE o_orderkey % 50 = 0
)
"""


def build_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered changelog of (key, op, after-image columns, ts_ms).

    Single-scan formulation: each order emits its 1-3 envelopes as an
    inline array that is exploded — one pass over the source instead of
    a 3-branch union (1 scan, not 3, per changelog build; matters when
    the snapshot table is the 100 TB side)."""
    o = load_table(spark, sf_dir, "orders")
    ts0 = F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    env = "struct<op:string,totalprice:double,orderstatus:string,ts_ms:bigint>"

    def _env(op, totalprice, orderstatus, ts):
        return F.struct(
            op.alias("op"),
            totalprice.alias("totalprice"),
            orderstatus.alias("orderstatus"),
            ts.alias("ts_ms"),
        )

    envelopes = F.array_compact(
        F.array(
            _env(F.lit("c"), F.col("o_totalprice"), F.col("o_orderstatus"), ts0),
            F.when(
                F.col("o_orderstatus") == "F",
                _env(
                    F.lit("u"),
                    (dec("o_totalprice") * F.lit(1.1).cast("decimal(18,4)")).cast("double"),
                    F.col("o_orderstatus"),
                    ts0 + 86400000,
                ),
            ).cast(env),
            F.when(
                F.col("o_orderkey") % 50 == 0,
                _env(
                    F.lit("d"),
                    F.lit(None).cast("double"),
                    F.lit(None).cast("string"),
                    ts0 + 172800000,
                ),
            ).cast(env),
        )
    )
    return o.select(
        F.col("o_orderkey").alias("key"), F.explode(envelopes).alias("e")
    ).select("key", "e.op", "e.totalprice", "e.orderstatus", "e.ts_ms")


def _changelog_thirds(spark: SparkSession, sf_dir: str):
    """The cached changelog and its split into 3 ascending event-time
    ranges (deterministic boundaries, so oracles can reproduce them);
    the caller unpersists the changelog."""
    log = build_changelog(spark, sf_dir).cache()
    b = log.agg(F.min("ts_ms").alias("lo"), F.max("ts_ms").alias("hi")).first()
    lo, hi = b["lo"], b["hi"]
    step = (hi - lo) // 3 + 1
    parts = [
        log.filter((F.col("ts_ms") >= lo + i * step) & (F.col("ts_ms") < lo + (i + 1) * step))
        for i in range(3)
    ]
    return log, parts


def latest_per_key(changelog: DataFrame) -> DataFrame:
    """Materialize current state from a changelog: last image per key by
    (ts_ms, op-precedence), deletes drop the key. Schema-generic: any
    input with ``key``/``op``/``ts_ms`` works, and the winning image
    carries EVERY input column, so add-column batches flow through a
    lakehouse merge (whose default reduction this is) unprojected.

    Implemented as MAX_BY over an ordering struct rather than a
    row_number window: an aggregate gets map-side partial combining
    (each upstream partition pre-reduces to one candidate per key before
    the shuffle), while a window must shuffle and sort every changelog
    row — at 100 TB of CDC that is the difference between shuffling
    O(keys) and O(events)."""
    from pyspark.sql.types import AtomicType

    # op precedence breaks same-ts ties deterministically: d > u > c;
    # remaining ties (identical ts+op — possible in a replayed/merged
    # changelog) are broken by every other ORDERABLE column in input
    # order, so the result is a deterministic function of the input
    # SET, not of arrival order. Struct ordering ranks NULL below any
    # value, which on the changelog schema matches the oracle's
    # COALESCE(totalprice,-1)/COALESCE(orderstatus,'') DESC (prices are
    # positive, statuses non-empty).
    prec = F.when(F.col("op") == "d", 2).when(F.col("op") == "u", 1).otherwise(0)
    others = [c for c in changelog.columns if c != "key"]
    tiebreak = [
        F.col(f.name)
        for f in changelog.schema.fields
        if f.name not in ("key", "op", "ts_ms") and isinstance(f.dataType, AtomicType)
    ]
    latest = changelog.groupBy("key").agg(
        F.max_by(
            F.struct(*[F.col(c) for c in others]),
            F.struct(F.col("ts_ms"), prec, *tiebreak),
        ).alias("last")
    )
    return latest.select(
        "key", *[F.col(f"last.{c}").alias(c) for c in others]
    ).filter(F.col("op") != "d")


_LATEST_ORACLE = f"""
WITH {CHANGELOG_SQL}
SELECT key, op, totalprice, orderstatus, ts_ms
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY key
    ORDER BY ts_ms DESC, CASE op WHEN 'd' THEN 2 WHEN 'u' THEN 1 ELSE 0 END DESC,
             COALESCE(totalprice, -1) DESC, COALESCE(orderstatus, '') DESC
  ) AS rn
  FROM changelog
)
WHERE rn = 1 AND op <> 'd'
"""


@register("cdc_latest_row", oracle=_LATEST_ORACLE, section="S3", bench=True)
def cdc_latest_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 MySQL-CDC materialization: snapshot+binlog → current table
    state (latest row per key, deletes applied)."""
    return latest_per_key(build_changelog(spark, sf_dir))


_SCD2_ORACLE = f"""
WITH {CHANGELOG_SQL}
SELECT key, totalprice, orderstatus,
       ts_ms AS valid_from_ms,
       LEAD(ts_ms) OVER w AS valid_to_ms,
       CAST(LEAD(ts_ms) OVER w IS NULL AS INTEGER) AS is_current
FROM changelog
WINDOW w AS (PARTITION BY key ORDER BY ts_ms,
             CASE op WHEN 'd' THEN 2 WHEN 'u' THEN 1 ELSE 0 END)
QUALIFY op <> 'd'
"""


@register("cdc_scd2_history", oracle=_SCD2_ORACLE, section="S3,S4,W3")
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4 slowly-changing-dimension type 2: the changelog becomes a
    full validity-interval history — each image valid from its own ts
    to the NEXT envelope's ts for that key (a delete closes the last
    interval; lead() computed over ALL envelopes, then delete rows
    dropped from the output). The canonical dim-table history the
    serving layer joins as-of (join_asof_latest is the consumer shape).
    One shuffle on key; W3 lead over per-key envelopes."""
    log = build_changelog(spark, sf_dir)
    prec = F.when(F.col("op") == "d", 2).when(F.col("op") == "u", 1).otherwise(0)
    w = Window.partitionBy("key").orderBy("ts_ms", prec)
    return (
        log.withColumn("valid_to_ms", F.lead("ts_ms").over(w))
        .filter(F.col("op") != "d")
        .select(
            "key",
            "totalprice",
            "orderstatus",
            F.col("ts_ms").alias("valid_from_ms"),
            "valid_to_ms",
            F.col("valid_to_ms").isNull().cast("int").alias("is_current"),
        )
    )


@register("dim_upsert", oracle=_LATEST_ORACLE, section="S4", reverify=5)
def dim_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 HBase-style dim sink: apply the changelog in ts-ordered
    micro-batches, each merged into a keyed dim store — a latest-image
    ``plans/lakehouse.py`` table, whose merge-on-read MERGE writes each
    batch as a delta and reduces at read. Because the batches partition
    the changelog into ascending event-time ranges, incremental
    merging converges to exactly the one-shot latest-per-key
    materialization — so the job carries the FULL ``cdc_latest_row``
    oracle (also asserted in
    tests/test_semantics.py::test_dim_upsert_equals_latest_row).

    The batch loop is the test-harness replay of the streaming
    foreachBatch sink ``stream_cdc_upsert`` — same store, same merge.
    """
    # lazy import: lakehouse registers queries and imports this module
    from ..plans.lakehouse import LakeTable

    changelog, batches = _changelog_thirds(spark, sf_dir)
    try:
        table = LakeTable(workspace("dim_store_"), "key")
        for batch in batches:
            table.merge(spark, batch)
        return table.read(spark)
    finally:
        changelog.unpersist()


@register("stream_cdc_upsert", oracle=_LATEST_ORACLE, section="S3,S4,T1")
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4 the CDC pipeline in its TRUE streaming form: the changelog
    is staged as a time-ordered multi-file 'binlog topic', consumed via
    readStream (maxFilesPerTrigger=1 → real micro-batches), and each
    batch is merged into the keyed dim store inside foreachBatch — the
    Flink CDC-source → HBase-sink job end to end. The store is the
    latest-image lakehouse table, so this is the same pipeline as
    ``stream_lake_merge``, which it runs: each batch is one
    merge-on-read commit of one Spark job, and the read reduces. The
    final materialized state carries the full latest-row oracle:
    replaying the binlog through the streaming path must converge to
    the same table as the one-shot batch materialization.

    (dim_upsert is the batch-loop twin; this one exercises the real
    streaming machinery: source offsets, checkpointing, batch
    boundaries chosen by the engine.)"""
    from ..plans.lakehouse import stream_lake_merge

    return stream_lake_merge(spark, sf_dir)


def cdc_binlog_stream(spark: SparkSession, sf_dir: str):
    """Stage the changelog ONCE as a 3-file event-time-ordered 'binlog
    topic' and open a readStream over it (maxFilesPerTrigger=1 → real
    micro-batches in commit order) — the shared CDC source for every
    streaming changelog consumer."""
    staged = stage_ordered_topic(
        f"cdc_topic_{os.path.basename(os.path.normpath(sf_dir))}",
        [table_path(sf_dir, "orders")],
        lambda: build_changelog(spark, sf_dir),
        3, "ts_ms",
    )
    schema = "key bigint, op string, totalprice double, orderstatus string, ts_ms bigint"
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(staged)


# =============================================================================
# Changelog kinds / retract streams (flink-table-runtime, pom.xml:125-130)
# =============================================================================
#
# Flink's Table runtime tracks four RowKinds through every plan:
# +I (INSERT), -U (UPDATE_BEFORE), +U (UPDATE_AFTER), -D (DELETE). The
# upsert changelog a CDC source emits carries only after-images; the
# ChangelogNormalize operator re-derives the before-images so downstream
# operators (notably aggregates grouped on NON-key columns) can RETRACT
# the old row's contribution before applying the new one. These builders
# re-express that algebra in Spark: the normalize step is a per-key
# lag() (batch) or a dim-store lookup (streaming), and retract
# consumption is signed aggregation — exact, associative, and
# incremental.

_ROWKIND_PREC = "CASE op WHEN 'd' THEN 2 WHEN 'u' THEN 1 ELSE 0 END"


def changelog_to_retract(changelog: DataFrame) -> DataFrame:
    """ChangelogNormalize: upsert changelog → retract stream. Each
    envelope becomes its RowKind rows — 'c' → +I(new); 'u' → −U(old),
    +U(new); 'd' → −D(old) — with the before-image recovered by a
    per-key event-time lag. One shuffle on key; output carries an
    explicit ``sign`` so any downstream aggregate can consume it as
    signed contributions."""
    prec = F.when(F.col("op") == "d", 2).when(F.col("op") == "u", 1).otherwise(0)
    w = Window.partitionBy("key").orderBy("ts_ms", prec)
    lagged = changelog.select(
        "key",
        "op",
        "totalprice",
        "orderstatus",
        "ts_ms",
        F.lag("totalprice").over(w).alias("p_price"),
        F.lag("orderstatus").over(w).alias("p_status"),
    )

    def _kind(kind, price, status, sign):
        return F.struct(
            F.lit(kind).alias("kind"),
            price.alias("price"),
            status.alias("status"),
            F.lit(sign).cast("int").alias("sign"),
        )

    rows = (
        F.when(
            F.col("op") == "c",
            F.array(_kind("+I", F.col("totalprice"), F.col("orderstatus"), 1)),
        )
        .when(
            F.col("op") == "u",
            F.array(
                _kind("-U", F.col("p_price"), F.col("p_status"), -1),
                _kind("+U", F.col("totalprice"), F.col("orderstatus"), 1),
            ),
        )
        .otherwise(F.array(_kind("-D", F.col("p_price"), F.col("p_status"), -1)))
    )
    return lagged.select("key", "ts_ms", F.explode(rows).alias("r")).select(
        "key", "r.kind", "r.price", "r.status", "r.sign", "ts_ms"
    )


_RETRACT_STREAM_ORACLE = f"""
WITH {CHANGELOG_SQL},
lagged AS (
  SELECT key, op, totalprice, orderstatus, ts_ms,
         LAG(totalprice) OVER w AS p_price,
         LAG(orderstatus) OVER w AS p_status
  FROM changelog
  WINDOW w AS (PARTITION BY key ORDER BY ts_ms, {_ROWKIND_PREC})
)
SELECT key, '+I' AS kind, totalprice AS price, orderstatus AS status,
       CAST(1 AS INTEGER) AS sign, ts_ms FROM lagged WHERE op = 'c'
UNION ALL
SELECT key, '-U', p_price, p_status, -1, ts_ms FROM lagged WHERE op = 'u'
UNION ALL
SELECT key, '+U', totalprice, orderstatus, 1, ts_ms FROM lagged WHERE op = 'u'
UNION ALL
SELECT key, '-D', p_price, p_status, -1, ts_ms FROM lagged WHERE op = 'd'
"""


@register("cdc_retract_stream", oracle=_RETRACT_STREAM_ORACLE, section="S3,W3")
def cdc_retract_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink changelog kinds (flink-table-runtime): the upsert changelog
    normalized into an explicit ±I/±U/±D retract stream with recovered
    before-images — the dynamic-table algebra Flink tracks through
    every Table/SQL plan, full oracle."""
    return changelog_to_retract(build_changelog(spark, sf_dir))


_RETRACT_AGG_ORACLE = f"""
WITH {CHANGELOG_SQL},
latest AS (
  SELECT key, op, totalprice, orderstatus FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY key
      ORDER BY ts_ms DESC, {_ROWKIND_PREC} DESC,
               COALESCE(totalprice, -1) DESC, COALESCE(orderstatus, '') DESC
    ) AS rn
    FROM changelog
  ) WHERE rn = 1 AND op <> 'd'
)
SELECT orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM latest GROUP BY orderstatus
"""


@register("cdc_retract_aggregate", oracle=_RETRACT_AGG_ORACLE, section="S3,A1")
def cdc_retract_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a RETRACT stream: GROUP BY a NON-key column
    (orderstatus) of an updating table — impossible with append-only
    semantics, the motivating case for Flink's retract mode. Each
    RowKind row contributes ``sign``-weighted terms; updates cancel
    their before-image exactly (DECIMAL sums — associative, no float
    drift), so the signed aggregate over ALL kinds equals the aggregate
    over the final materialized state, which is what the oracle
    computes. One shuffle for the normalize lag + one for the group-by;
    both map-side combined."""
    retract = changelog_to_retract(build_changelog(spark, sf_dir))
    return (
        retract.groupBy(F.col("status").alias("orderstatus"))
        .agg(
            F.sum("sign").cast("bigint").alias("n_orders"),
            F.sum(F.col("sign") * dec("price")).alias("v"),
        )
        .filter(F.col("n_orders") > 0)
        .select(
            "orderstatus", "n_orders", F.col("v").cast("double").alias("total_price")
        )
    )


@register("stream_retract_agg", oracle=_RETRACT_AGG_ORACLE, section="S3,A1,T5")
def stream_retract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retract aggregate in its TRUE streaming form — incremental
    view maintenance over the binlog topic. The dim store is a
    latest-image lakehouse table (plans/lakehouse.py). Per micro-batch:

    1. the batch is one merge-on-read MERGE commit: the batch is
       written as a delta, its source scanned once, and no state is
       read or rewritten;
    2. ``LakeTable.changed`` over that commit IS the retract stream:
       the table's images before it for the batch's keys retract (−1)
       and the images after it assert (+1) — the before-images come
       from state, the streaming ChangelogNormalize, as in Flink's
       operator. A key whose image did not change appears on both sides
       and cancels. The signed per-status delta — a handful of rows —
       merges into the running aggregate (driver-held exact Decimal
       sums, O(groups) state).

    Per-batch cost is O(batch + the store files whose key stats overlap
    the batch + groups); the dim files no batch key can be in are never
    read. The final running aggregate carries the same full oracle as
    the batch twin — batch boundaries are invisible because signed
    DECIMAL addition is associative and commutative."""
    from decimal import Decimal

    # lazy import: lakehouse registers queries and imports this module
    from ..plans.lakehouse import LakeTable
    from ..session import prepare
    from ..streaming.jobs import run_stream

    prepare(spark)
    stream = cdc_binlog_stream(spark, sf_dir)
    table = LakeTable(workspace("cdc_retract_dim_"), "key")
    agg: dict[str, list] = {}  # status -> [n_orders, Decimal total]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        head = table._head()[0]
        v = table.merge(spark, batch_df)
        if v == head:  # an empty batch commits nothing
            return
        signed = [
            part.select(
                F.col("orderstatus").alias("status"),
                F.lit(sign).alias("sign"),
                F.col("totalprice").alias("price"),
            )
            for part, sign in zip(table.changed(spark, head, v), (-1, 1))
            if part is not None
        ]
        if not signed:  # e.g. deletes of keys the table never held
            return
        delta = (
            functools.reduce(DataFrame.unionByName, signed)
            .groupBy("status")
            .agg(
                F.sum("sign").cast("bigint").alias("dn"),
                F.sum(F.col("sign") * dec("price")).alias("dv"),
            )
            .collect()
        )
        for r in delta:
            cur = agg.setdefault(r["status"], [0, Decimal("0")])
            cur[0] += int(r["dn"])
            cur[1] += Decimal(str(r["dv"])) if r["dv"] is not None else Decimal("0")

    run_stream(stream.writeStream.outputMode("append").foreachBatch(sink), "retract_agg")
    rows = [
        (status, n, float(total))
        for status, (n, total) in sorted(agg.items())
        if n > 0
    ]
    return spark.createDataFrame(
        rows, "orderstatus string, n_orders bigint, total_price double"
    )
