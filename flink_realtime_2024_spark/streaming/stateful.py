"""Keyed stateful streaming operators (SURVEY §2.8 T5).

Reference surface: Flink KeyedProcessFunction with ValueState/MapState +
TTL and event-time timers (flink-streaming-java, reference pom.xml:32-37)
— the first-visit/new-UV flag job, order-timeout detection, per-day dedup.

Spark mapping (SURVEY §1.3): ``applyInPandasWithState`` (GroupState
per key, processing- and event-time timeouts). PySpark 4.x's
``transformWithStateInPandas`` adds list/map state, but its state client
needs ``google.protobuf`` at run time, so it is not used.

Semantics note (vs the batch twin ``state_first_visit``): state persists
ACROSS micro-batches via the checkpointed state store; each batch emits
only the *newly seen* (user, day) pairs — the streaming union over all
batches equals the batch answer. Verified in tests/test_streaming.py.

Scale: state is partitioned by key across executors (RocksDB/HDFS-backed
at cluster scale — the reference's HDFS checkpoint, pom.xml:68-74);
nothing is driver-resident.
"""

from __future__ import annotations

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)


_FIRST_VISIT_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("day", StringType()),
        StructField("first_event_id", LongType()),
    ]
)

_FIRST_VISIT_STATE = StructType([StructField("seen_days", StringType())])


def _first_visit_fn(key, pdfs, state: GroupState):
    """Per-key kernel: emit (user, day, event_id) the first time a day is
    seen for this user; remember seen days in GroupState across batches.
    Per incoming pandas chunk, the first (us, event_id)-ordered row of
    each unseen day is kept with whole-column pandas ops (sort +
    drop_duplicates + isin) — no per-row Python.

    State is a single comma-joined string of days — GroupState values
    must be hashable tuples of simple types.
    """
    seen = set()
    if state.exists:
        (packed,) = state.get
        if packed:
            seen = set(packed.split(","))
    chunks = []
    for pdf in pdfs:
        firsts = pdf.sort_values(["us", "event_id"]).drop_duplicates("day")
        firsts = firsts[~firsts["day"].isin(seen)]
        if len(firsts):
            seen.update(firsts["day"].tolist())
            chunks.append(
                pd.DataFrame(
                    {
                        "user_id": key[0],
                        "day": firsts["day"].to_numpy(),
                        "first_event_id": firsts["event_id"].to_numpy(),
                    }
                )
            )
    state.update((",".join(sorted(seen)),))
    if chunks:
        yield pd.concat(chunks, ignore_index=True)


def first_visits_stream(events: DataFrame) -> DataFrame:
    """T5 keyed-process-function over a streaming events DataFrame: the
    Flink KeyedProcessFunction as ``applyInPandasWithState``."""
    prepared = events.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.unix_micros("ts").alias("us"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _first_visit_fn,
        outputStructType=_FIRST_VISIT_OUT,
        stateStructType=_FIRST_VISIT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_TIMEOUT_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("purchase_event_id", LongType()),
        StructField("purchase_us", LongType()),
        StructField("outcome", StringType()),  # 'confirmed' | 'timed_out'
    ]
)

_TIMEOUT_STATE = StructType(
    [
        StructField("purchase_event_id", LongType()),
        StructField("purchase_us", LongType()),
    ]
)

_CONFIRM_WINDOW_US = 3_600_000_000  # 1 hour


def _order_timeout_fn(key, pdfs, state: GroupState):
    """The reference's cancel-order-timeout job (KeyedProcessFunction +
    timer): a 'purchase' arms a per-key timer; a later 'signup'
    (stand-in confirmation event) within 1h emits 'confirmed'; the
    event-time timeout fires 'timed_out' otherwise.

    Timer mapping: Flink's registerEventTimeTimer ==
    GroupState.setTimeoutTimestamp against the event-time watermark —
    with one Spark-specific wrinkle: a key that receives data in a batch
    is invoked with hasTimedOut=False even if its timer expired, so the
    kernel must self-check expiry against getCurrentWatermarkMs().
    """
    cols = ["user_id", "purchase_event_id", "purchase_us", "outcome"]
    if state.hasTimedOut:
        pid, pus = state.get
        state.remove()
        yield pd.DataFrame([(key[0], pid, pus, "timed_out")], columns=cols)
        return

    wm_ms = state.getCurrentWatermarkMs()
    rows = []
    pending = state.get if state.exists else None

    def expired(p) -> bool:
        return (p[1] + _CONFIRM_WINDOW_US) // 1000 <= wm_ms

    if pending is not None and expired(pending):
        rows.append((key[0], pending[0], pending[1], "timed_out"))
        pending = None
    for pdf in pdfs:
        for r in pdf.sort_values(["us", "event_id"]).itertuples(index=False):
            if r.event_type == "purchase":
                if pending is None:
                    pending = (r.event_id, r.us)
            elif r.event_type == "signup" and pending is not None:
                if r.us - pending[1] <= _CONFIRM_WINDOW_US:
                    rows.append((key[0], pending[0], pending[1], "confirmed"))
                    pending = None
    if pending is not None and expired(pending):
        rows.append((key[0], pending[0], pending[1], "timed_out"))
        pending = None
    if pending is not None:
        state.update(pending)
        state.setTimeoutTimestamp((pending[1] + _CONFIRM_WINDOW_US) // 1000)
    elif state.exists:
        state.remove()
    if rows:
        yield pd.DataFrame(rows, columns=cols)


def order_timeouts_stream(events: DataFrame) -> DataFrame:
    """T5 keyed state + event-time timers over a watermarked stream."""
    prepared = events.withWatermark("ts", "10 minutes").select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.unix_micros("ts").alias("us"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _order_timeout_fn,
        outputStructType=_TIMEOUT_OUT,
        stateStructType=_TIMEOUT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


_CEP_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("purchase_us", LongType()),
    ]
)

_CEP_STATE = StructType(
    [
        StructField("last_view_us", LongType()),
        StructField("last_qclick_us", LongType()),
    ]
)

_CEP_STEP_US = 604_800_000_000  # 7 days per step (matches the batch twin)


def _cep_fn(key, pdfs, state: GroupState):
    """Flink-CEP NFA as keyed state: per user, two 'last-seen' registers
    — latest view, latest *qualified* click (one ≤7 days after a view).
    A purchase ≤7 days after a qualified click emits a conversion row.
    Rows are processed in (us, event_type) order, the exact ordering of
    the batch twin's window sort, so accumulated stream output ==
    batch output (oracle-checked)."""
    lv, lq = state.get if state.exists else (-1, -1)
    chunks = [pdf for pdf in pdfs]
    rows = []
    if chunks:
        batch = pd.concat(chunks).sort_values(["us", "event_type"])
        for r in batch.itertuples(index=False):
            if (
                r.event_type == "purchase"
                and lq >= 0
                and r.us - lq <= _CEP_STEP_US
            ):
                rows.append((key[0], r.us))
            if r.event_type == "view":
                lv = max(lv, r.us)
            elif r.event_type == "click" and lv >= 0 and r.us - lv <= _CEP_STEP_US:
                lq = max(lq, r.us)
    state.update((lv, lq))
    if rows:
        yield pd.DataFrame(rows, columns=["user_id", "purchase_us"])


def cep_funnel_stream(events: DataFrame) -> DataFrame:
    """T5 streaming CEP: strict view→click→purchase sequence detection
    with per-step time bounds, as per-key register state across
    micro-batches (the applyInPandasWithState form of the batch
    analytics_cep_funnel window plan)."""
    prepared = events.where(
        F.col("event_type").isin("view", "click", "purchase")
    ).select("user_id", "event_type", F.unix_micros("ts").alias("us"))
    return prepared.groupBy("user_id").applyInPandasWithState(
        _cep_fn,
        outputStructType=_CEP_OUT,
        stateStructType=_CEP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_cep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the CEP job over the in-order replay (register semantics
    need cross-batch event-time order) and aggregate the accumulated
    conversion stream to the batch twin's schema."""
    from .jobs import staged_events_dir_ordered, stream_to_parquet, topic_stream
    from ..session import prepare

    prepare(spark)
    staged = staged_events_dir_ordered(spark, sf_dir)
    ev = topic_stream(spark, staged)
    return (
        stream_to_parquet(cep_funnel_stream(ev), "cep_funnel")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.min("purchase_us").alias("first_conversion_us"),
        )
    )


def run_first_visits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the streaming first-visit job over the staged replay and
    return the accumulated output (all micro-batches appended)."""
    from .jobs import events_stream, stream_to_parquet

    ev = events_stream(spark, sf_dir)
    return stream_to_parquet(first_visits_stream(ev), "first_visits")


def run_order_timeouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the timer job over an in-order replay (timers need the
    watermark to advance monotonically across micro-batches)."""
    from ..session import prepare
    from .jobs import staged_events_dir_ordered, stream_to_parquet, topic_stream

    prepare(spark)
    staged = staged_events_dir_ordered(spark, sf_dir)
    ev = topic_stream(spark, staged)
    return stream_to_parquet(order_timeouts_stream(ev), "order_timeouts")
