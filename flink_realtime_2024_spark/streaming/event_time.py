"""Event-time window operators (SURVEY §2.8 T2-T5) — batch twins.

Reference surface: Flink event-time windows + keyed process functions
(flink-streaming-java, reference pom.xml:32-37): tumbling/sliding window
aggregates (traffic DWS), session windows (sessionization), keyed state
(first-visit/new-UV flags).

These builders run the *same logical window computation* in batch on the
``events`` table so DuckDB can oracle-check them; the true streaming
forms (readStream + withWatermark + the same groupBy) live in
streaming/jobs.py and tests/test_streaming.py — Structured Streaming
reuses identical expressions, which is the point of the Spark mapping.

Determinism: all window arithmetic is done at microsecond precision
(Spark's native timestamp unit); oracles use
``epoch_us(CAST(ts AS TIMESTAMP))`` so the ns→µs truncation is identical.

Scale notes: tumbling/sliding windows are plain hash aggregations with
the bucket in the key — map-side partial agg applies; session windows
shuffle once per key and merge intervals per key (linear, sorted within
key); watermarks bound streaming state for all of these.
"""

from __future__ import annotations

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources.io import load_table
from ..plans.registry import register
from ..operators._util import dec

_US_H = 3_600_000_000  # one hour in µs
ORACLE_TS_US = "epoch_us(CAST(ts AS TIMESTAMP))"


def _ts_us() -> F.Column:
    return F.unix_micros(F.col("ts"))


# --- T2 tumbling window ------------------------------------------------------

_TUMBLING_ORACLE = f"""
SELECT ({ORACLE_TS_US} // {_US_H}) * {_US_H} AS bucket_us,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS uv
FROM events
GROUP BY 1, 2
"""


@register("window_tumbling", oracle=_TUMBLING_ORACLE, section="T2,T1", bench=True)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 tumbling 1h window per event_type (traffic DWS shape). Uses
    Spark's window() so the identical expression runs under readStream +
    withWatermark (T1) — see tests/test_streaming.py."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("uv"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("bucket_us"),
            "event_type",
            "n_events",
            "sum_value",
            "uv",
        )
    )


# --- T3 sliding (hop) window ---------------------------------------------------

_SLIDING_ORACLE = f"""
WITH e AS (
  SELECT user_id, value,
         ({ORACLE_TS_US} // {_US_H}) * {_US_H} AS h
  FROM events
), assigned AS (
  SELECT user_id, value, unnest([h, h - {_US_H}]) AS bucket_us FROM e
)
SELECT bucket_us, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM assigned
GROUP BY bucket_us
"""


@register("window_sliding", oracle=_SLIDING_ORACLE, section="T3")
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 sliding window: 2h size / 1h hop — every event lands in two
    buckets; Spark expands the assignment inline (no self-join)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("bucket_us"),
            "n_events",
            "sum_value",
        )
    )


# --- T4 session window -----------------------------------------------------------

_GAP_US = 30 * 60 * 1_000_000  # 30 minutes

# gaps-and-islands: a new session starts when the gap to the previous
# event of the same user EXCEEDS the session gap. Spark merges adjacent
# intervals — an event exactly gap-after still belongs to the session
# (caught by hypothesis in tests/test_properties.py; '>=' is wrong at
# the boundary).
_SESSION_ORACLE = f"""
WITH e AS (
  SELECT user_id, {ORACLE_TS_US} AS us, value FROM events
), marked AS (
  SELECT user_id, us, value,
         CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                   > {_GAP_US} OR LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM e
), islands AS (
  SELECT user_id, us, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id,
       MIN(us) AS session_start_us,
       MAX(us) + {_GAP_US} AS session_end_us,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM islands
GROUP BY user_id, session_id
"""


@register("window_session", oracle=_SESSION_ORACLE, section="T4", bench=True)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 session window (30 min gap) per user — sessionization of the
    clickstream, the reference's traffic DWD job. Spark's session_window
    merges per-key intervals in one shuffle; the DuckDB oracle is the
    hand-written gaps-and-islands equivalent (SURVEY §5.2)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


# --- T5 keyed process function + state ----------------------------------------------

_FIRST_VISIT_ORACLE = """
WITH e AS (
  SELECT user_id, event_id,
         strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
), ranked AS (
  SELECT user_id, day, us, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, day ORDER BY us, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id, day) AS n
  FROM e
)
SELECT user_id, day, us AS first_us, event_id AS first_event_id,
       n AS n_events_that_day
FROM ranked WHERE rn = 1
"""


@register("state_first_visit", oracle=_FIRST_VISIT_ORACLE, section="T5")
def state_first_visit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 keyed process function with per-key state: first-visit-per-day
    detection (the reference's new-UV flag job). Implemented as
    applyInPandas — per-key imperative logic with explicit state (a seen-
    days dict), the batch twin of the applyInPandasWithState stream in
    streaming/stateful.py, which tests/test_streaming.py checks against
    it.

    At scale: one shuffle on user_id; state lives per key inside the
    kernel, never on the driver.
    """
    ev = load_table(spark, sf_dir, "events")
    prepared = ev.select(
        "user_id",
        "event_id",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        _ts_us().alias("us"),
    )

    def first_visits(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["us", "event_id"])
        state: dict[str, dict] = {}  # day -> {first_us, first_event_id, n}
        for row in pdf.itertuples(index=False):
            st = state.get(row.day)
            if st is None:
                state[row.day] = {
                    "first_us": row.us,
                    "first_event_id": row.event_id,
                    "n": 1,
                }
            else:
                st["n"] += 1
        return pd.DataFrame(
            [
                {
                    "user_id": int(pdf["user_id"].iloc[0]),
                    "day": day,
                    "first_us": st["first_us"],
                    "first_event_id": st["first_event_id"],
                    "n_events_that_day": st["n"],
                }
                for day, st in state.items()
            ]
        )

    schema = (
        "user_id bigint, day string, first_us bigint, "
        "first_event_id bigint, n_events_that_day bigint"
    )
    return prepared.groupBy("user_id").applyInPandas(first_visits, schema)
