"""Structured Streaming jobs (SURVEY §2.1 S1/S2/S11, §2.8 T1/T6/T8, §2.2 F4).

Reference surface: Kafka source/sink between warehouse layers
(realtime-common/pom.xml:28-31; pom.xml:152-156), HDFS checkpointing
(pom.xml:68-74), side-output stream splitting (the DWD log-split job),
dropDuplicates-by-key, and the broadcast-state dynamic-config routing
pattern (table-process config via CDC, DIM layer).

Harness mapping: no Kafka broker in the test environment, so streams
replay the ``events`` fixture as a multi-file parquet directory read
with ``readStream`` + ``maxFilesPerTrigger=1`` (several real
micro-batches). Every query runs with ``trigger(availableNow=True)``
and an explicit checkpointLocation (S11), exactly as a Kafka-fed job
would — swap ``format("parquet")`` for ``format("kafka")`` in
production and nothing else changes. That substitution point is
``topic_stream()``.

Sinks: every file sink is ``stream_to_parquet``. A run writes into its
own ``workspace`` dir, a complete-mode snapshot overwrites it and any
other batch overwrites its own ``batch=<id>`` dir, so a replayed batch
replaces itself instead of landing twice. The output is read back as a
plain DataFrame so the driver can collect it.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources.io import (
    events_ts_to_timestamp,
    load_table,
    stage,
    stage_ordered_topic,
    table_path,
    workspace,
)
from ..session import prepare
from ..plans.registry import register
from ..plans.sql_api import _SQL_CUMULATE_ORACLE as _sql_api_cumulate_oracle


def _staged_events_dir(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Stage events.parquet as an n-file directory (the 'topic'):
    one file ≈ one micro-batch under maxFilesPerTrigger=1."""
    path = table_path(sf_dir, "events")
    return stage(
        f"events_topic_{os.path.basename(os.path.normpath(sf_dir))}", [path], (n_files,),
        # keep the on-disk ts type: events_stream normalizes on read
        lambda tmp: spark.read.parquet(path).repartition(n_files).write.parquet(tmp),
    )


def staged_events_dir_ordered(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Stage events as n_files consecutive event-time ranges with
    ascending modification times — a realistic in-order topic replay.
    Required by operators whose semantics depend on watermark
    progression (event-time timers, late-row accounting)."""
    path = table_path(sf_dir, "events")
    return stage_ordered_topic(
        f"events_topic_ordered_{os.path.basename(os.path.normpath(sf_dir))}", [path],
        lambda: spark.read.parquet(path),  # on-disk ts type
        n_files, "ts",
    )


def _staged_events_dir_keyed(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Stage events as n_files 'topic files' assigned by the
    SQL-expressible rule ``event_id % n_files``, with ascending
    modification times so FileStreamSource (oldest-first) replays file
    k as micro-batch k. Unlike ``_staged_events_dir`` (opaque hash
    repartition), the batch→row mapping here is a pure function of the
    data — which lets batch-boundary-dependent jobs (late-row split)
    carry a full DuckDB oracle instead of a rows-only check."""
    path = table_path(sf_dir, "events")

    def build(tmp: str) -> None:
        raw = spark.read.parquet(path)  # on-disk ts type
        base = None
        for k in range(n_files):
            part = os.path.join(tmp, f"_part{k}")  # '_' hides it from readers
            raw.filter(F.col("event_id") % n_files == k).coalesce(1).write.parquet(part)
            src = next(f for f in os.listdir(part) if f.endswith(".parquet"))
            dst = os.path.join(tmp, f"part-{k}.parquet")
            shutil.move(os.path.join(part, src), dst)
            shutil.rmtree(part)
            if base is None:
                base = int(os.path.getmtime(dst))
            os.utime(dst, (base + k, base + k))

    tag = os.path.basename(os.path.normpath(sf_dir))
    return stage(f"events_topic_keyed_{tag}", [path], (n_files,), build)


def topic_stream(spark: SparkSession, staged: str) -> DataFrame:
    """Replay a staged events topic as a stream, one file per
    micro-batch: the semantic tests (checkpoint resume, cross-batch
    dedup, late re-fire) rely on the replay arriving as several
    batches. The schema is probed from the file footer (streams require
    one, and it must match what this Spark version scans); ts is
    normalized to TimestampType like the batch loader, so batch twins
    share expressions."""
    return events_ts_to_timestamp(
        spark.readStream.schema(spark.read.parquet(staged).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 stream source: the engine's Kafka-source equivalent, over the
    hash-split events topic."""
    prepare(spark)
    return topic_stream(spark, _staged_events_dir(spark, sf_dir))


def run_stream(df_writer, checkpoint_tag: str):
    """Start with availableNow (process everything, then stop) + a fresh
    checkpoint dir (S11), await termination and remove the checkpoint
    once the query has stopped: no caller resumes an availableNow run.
    A caller that wants the run's per-trigger progress collects it with
    ``observability.stream_progress``."""
    ckpt = workspace(f"ckpt_{checkpoint_tag}_")
    q = df_writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    try:
        q.awaitTermination()
    finally:
        q.stop()  # a no-op once terminated; an interrupted wait leaves it running
        shutil.rmtree(ckpt, ignore_errors=True)
    return q


def write_batch(
    batch_df: DataFrame, batch_id: int, out: str, output_mode: str = "append", transform=None
) -> None:
    """Write one micro-batch of a file sink, after ``transform``. A
    ``complete`` batch is the whole result and overwrites ``out``; any
    other batch overwrites its own ``out/batch=<id>`` dir, so a replayed
    batch replaces itself instead of adding its rows a second time."""
    if transform is not None:
        batch_df = transform(batch_df)
    dest = out if output_mode == "complete" else os.path.join(out, f"batch={batch_id}")
    batch_df.write.mode("overwrite").parquet(dest)


def stream_to_parquet(
    df: DataFrame, tag: str, output_mode: str = "append", transform=None
) -> DataFrame:
    """The streaming file sink: run ``df`` to completion through
    ``run_stream`` with every micro-batch written by ``write_batch``
    into a fresh ``workspace`` dir, and return what it holds with only
    the written columns (no ``batch`` partition column)."""
    out = workspace(f"{tag}_out_")
    run_stream(
        df.writeStream.outputMode(output_mode).foreachBatch(
            lambda batch_df, batch_id: write_batch(batch_df, batch_id, out, output_mode, transform)
        ),
        tag,
    )
    result = df.sparkSession.read.parquet(out)
    return result if output_mode == "complete" else result.drop("batch")


def late_rows_metrics(spark: SparkSession, sf_dir: str, delay: str = "1 hour") -> dict:
    """T7 allowed-lateness accounting. Structured Streaming has no late-
    data *side output* (documented semantic gap, SURVEY §2.8 T7) — the
    engine's substitute is the state-store metric
    ``numRowsDroppedByWatermark``, surfaced per micro-batch here: you
    can count and alert on dropped-late rows, you cannot reroute them.

    Runs a windowed count with a deliberately short watermark over the
    *unordered* replay (late arrivals guaranteed) and returns
    {'dropped': n, 'batches': k}.
    """
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # only the progress is read: the noop sink writes nothing
    q = run_stream(agg.writeStream.outputMode("append").format("noop"), "late")
    dropped = 0
    batches = 0
    for p in q.recentProgress:
        batches += 1
        for op in p.get("stateOperators", []):
            dropped += op.get("numRowsDroppedByWatermark", 0)
    return {"dropped": dropped, "batches": batches}


_WINDOW_TOPN_ORACLE = """
WITH b AS (
  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600000000 AS bucket_us,
         event_type
  FROM events
), c AS (
  SELECT bucket_us, event_type, COUNT(*) AS n FROM b GROUP BY 1, 2
)
SELECT bucket_us, event_type, n, rn FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY bucket_us ORDER BY n DESC, event_type
  ) AS rn FROM c
) WHERE rn <= 2
"""


@register("stream_window_topn", oracle=_WINDOW_TOPN_ORACLE, section="T2,W1,DWS")
def stream_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DWS streaming top-N (the reference's per-window ranking jobs,
    e.g. top traffic sources per hour): a watermarked tumbling-window
    count, ranked WITHIN the sink's foreachBatch — Structured Streaming
    doesn't allow window functions over a streaming aggregate, so the
    rank runs on each complete-mode batch snapshot (tiny: one row per
    (hour, type)) exactly like Flink's per-window emit → rank pattern.
    Full oracle: final state must equal the batch rank."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "31 days")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def top2(snapshot: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        w = Window.partitionBy("window").orderBy(F.desc("n"), "event_type")
        return (
            snapshot.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 2)
            .select(
                F.unix_micros(F.col("window.start")).alias("bucket_us"),
                "event_type",
                "n",
                F.col("rn").cast("bigint").alias("rn"),
            )
        )

    return stream_to_parquet(agg, "wtopn", "complete", top2)


@register(
    "stream_window_cumulate",
    oracle=_sql_api_cumulate_oracle,
    section="T2,§3.2 SQL API,DWS",
)
def stream_window_cumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATE's native habitat: Flink's cumulate TVF exists for
    early-fire streaming dashboards ("this hour's totals so far,
    refreshed every step"), so the SQL-surface id
    (plans/sql_api.py sql_window_cumulate) gets a real micro-batch
    twin. The stream aggregates per 15-minute STEP (the finest slice —
    Structured Streaming state is one row per (step, type), never per
    event); each complete-mode snapshot then expands steps to the
    expanding slices in the sink — a step at index i contributes to
    slices i..4 of its hour, so the per-slice totals are running sums
    over a TINY aggregated frame, exactly Flink's slice-merge
    implementation of cumulate (one pane per step, panes merged at
    fire time).

    Full oracle: the accumulated final state must equal the batch
    expansion (same DuckDB unnest oracle as the SQL-surface id)."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "31 days")
        .groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("val"),
        )
    )

    def expand(snapshot: DataFrame) -> DataFrame:
        # integer-exact bucket arithmetic (pmod + integer `div`, no
        # float division anywhere): window.start is 15-min aligned,
        # so pmod(ms, 1h) div 15min ∈ {0,1,2,3}
        ms = F.unix_millis(F.col("window.start"))
        hour = ms - F.pmod(ms, F.lit(3600000))
        step_idx = F.expr(
            "CAST(pmod(unix_millis(window.start), 3600000) DIV 900000 AS INT) + 1"
        )
        return (
            snapshot.select(
                hour.alias("window_start_ms"),
                step_idx.alias("i"),
                "event_type",
                "n",
                "val",
            )
            .select(
                "window_start_ms",
                "event_type",
                "n",
                "val",
                F.explode(F.sequence("i", F.lit(4))).alias("k"),
            )
            .groupBy(
                "window_start_ms",
                (F.col("window_start_ms") + F.col("k") * 900000).alias("window_end_ms"),
                "event_type",
            )
            .agg(
                F.sum("n").alias("n"),
                F.sum("val").cast("double").alias("total_value"),
            )
        )

    return stream_to_parquet(agg, "wcumulate", "complete", expand)


_STREAM_DIM_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n_events
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


@register("stream_dim_join", oracle=_STREAM_DIM_ORACLE, section="S5,J2,T1")
def stream_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/J2 stream-static enrichment (the reference's HBase dim lookup
    on a live stream): each micro-batch joins the event stream against
    the static customer dim — Spark re-plans the join per batch, so dim
    updates between batches are picked up, exactly the Flink lookup-join
    contract. Aggregated per segment; full oracle on the final state."""
    ev = events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(cust, "user_id")
    agg = joined.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_events"))
    return stream_to_parquet(agg, "dimjoin", "complete")


_SSJ_ORACLE = """
WITH e AS (SELECT event_id, user_id, event_type,
                  epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events)
SELECT p.event_id AS purchase_id, c.event_id AS click_id
FROM e p JOIN e c
  ON c.user_id = p.user_id
 AND c.ms BETWEEN p.ms - 1800000 AND p.ms
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


@register("stream_stream_join", oracle=_SSJ_ORACLE, section="J4,J5,T1")
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/J5 STREAM-STREAM interval join (Flink intervalJoin's streaming
    form): purchases joined to same-user clicks within the preceding 30
    minutes, both sides watermarked so the state store retains only the
    interval width (+ out-of-orderness bound) per key on a live feed.
    Runs through real micro-batches, appends pairs per batch, and the
    accumulated output carries the full batch oracle — the streaming
    execution must produce exactly the batch interval join's pairs."""
    ev = events_stream(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "31 days")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("pu"),
            F.col("ts").alias("pts"),
        )
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .withWatermark("ts", "31 days")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("cu"),
            F.col("ts").alias("cts"),
        )
    )
    joined = p.join(
        c,
        (F.col("cu") == F.col("pu"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("cts") <= F.col("pts")),
    ).select("purchase_id", "click_id")
    # stream-stream inner joins emit each match exactly once (state-backed)
    return stream_to_parquet(joined, "ssj")


_LATE_SPLIT_ORACLE = """
WITH e AS (
  SELECT event_id % 4 AS b, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
), mx AS (
  SELECT b, MAX(us) AS mx FROM e GROUP BY b
), wm AS (
  SELECT b,
         MAX(mx) OVER (ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - 3600000000 AS wm
  FROM mx
), tagged AS (
  SELECT CASE WHEN w.wm IS NULL OR e.us >= w.wm THEN 'main' ELSE 'late' END AS branch
  FROM e JOIN wm w USING (b)
)
SELECT br.branch, CAST(COALESCE(t.n, 0) AS BIGINT) AS n
FROM (VALUES ('main'), ('late')) AS br(branch)
LEFT JOIN (SELECT branch, COUNT(*) AS n FROM tagged GROUP BY branch) t USING (branch)
"""


@register("stream_late_split", oracle=_LATE_SPLIT_ORACLE, section="T7,F4", reverify=5)
def stream_late_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 allowed-lateness SIDE OUTPUT — the real thing, not just the
    drop metric. Flink's ``.sideOutputLateData(tag)`` reroutes late
    rows to a secondary stream; Structured Streaming's stateful ops
    only DROP them (late_rows_metrics counts the drops). This job
    restores the reroute semantics: the sink tracks the event-time
    watermark across micro-batches (max event time seen so far minus
    the allowed lateness — Flink's exact definition, persisted across
    batches in driver scope) and tags each row of a batch ``main`` or
    ``late`` against it BEFORE any stateful operator would drop it.
    Each batch is one ``stream_to_parquet`` write, idempotent per
    batchId, like ``stream_split``'s branches.

    Scale: the tag is one expression on the executing batch (no extra
    shuffle); the batch's max event time is an Observation on that same
    write, read when the next batch is tagged (the write has run, so it
    has posted) — O(1) driver state, no second pass.

    Full oracle (was rows-only through r4): the topic is staged with
    the SQL-expressible assignment ``event_id % 4`` replayed in fixed
    file order, so the per-batch watermark progression — running
    prefix-max of batch max-event-time minus allowed lateness — is a
    pure function of the static table and DuckDB reproduces the exact
    main/late row sets; the main+late=total invariant stays
    pytest-asserted too."""
    from pyspark.sql import Observation

    from ..observability import await_observation

    prepare(spark)
    staged = _staged_events_dir_keyed(spark, sf_dir)
    allowed_us = 3_600_000_000  # 1 hour allowed lateness
    # the watermark BEFORE the current batch, in epoch-µs, and the
    # Observation of the previous batch's max event time
    wm: dict = {"us": None, "obs": None}

    def tag(batch_df: DataFrame) -> DataFrame:
        if wm["obs"] is not None:
            batch_max = await_observation(wm["obs"], "late_split")["max_us"]
            if batch_max is not None:
                cand = batch_max - allowed_us
                wm["us"] = cand if wm["us"] is None else max(wm["us"], cand)
        wm["obs"] = Observation()
        us = F.unix_micros("ts")
        branch = (
            F.lit("main")
            if wm["us"] is None
            else F.when(us < F.lit(wm["us"]), "late").otherwise("main")
        )
        return batch_df.observe(wm["obs"], F.max(us).alias("max_us")).withColumn(
            "branch", branch
        )

    tagged = stream_to_parquet(topic_stream(spark, staged), "late_split", transform=tag)
    # both branches are rows of the result, an empty one with n = 0
    branches = spark.createDataFrame([("main",), ("late",)], "branch string")
    return branches.join(tagged.groupBy("branch").count(), "branch", "left").select(
        "branch", F.coalesce("count", F.lit(0)).alias("n")
    )


_SMOKE_ORACLE = """
SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type
"""


@register("stream_source_smoke", oracle=_SMOKE_ORACLE, section="S1,S2,S11")
def stream_source_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 source→agg→sink through real micro-batches: counts per
    event_type streamed into a parquet sink via foreachBatch (the
    Kafka-to-Kafka layer hop), then read back. The final state equals the
    batch answer — so it gets a full oracle, not just rows-only."""
    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return stream_to_parquet(agg, "smoke", "complete")


_SPLIT_ORACLE = """
SELECT CASE WHEN event_type = 'error' THEN 'errors'
            WHEN event_type IN ('purchase','signup') THEN 'conversions'
            ELSE 'traffic' END AS branch,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


@register("stream_split", oracle=_SPLIT_ORACLE, section="F4")
def stream_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 side outputs / stream split (the DWD log-split job: page/err/
    action topics). Each row of the parent stream is tagged with its
    destination branch, so a micro-batch is one write whatever the
    number of branches; per-branch totals are the query result."""
    branch = (
        F.when(F.col("event_type") == "error", "errors")
        .when(F.col("event_type").isin("purchase", "signup"), "conversions")
        .otherwise("traffic")
    )
    tagged = events_stream(spark, sf_dir).withColumn("branch", branch)
    return stream_to_parquet(tagged, "split").groupBy("branch").agg(
        F.count(F.lit(1)).alias("n")
    )


_DEDUP_ORACLE = """
SELECT COUNT(*) AS n_unique FROM (SELECT DISTINCT event_id FROM events)
"""


@register("stream_dedup", oracle=_DEDUP_ORACLE, section="T6,T1")
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 dropDuplicatesWithinWatermark: the input is doubled (stream ∪
    stream — a replayed topic) and deduped by event_id; surviving row
    count equals the distinct count.

    The staged replay files are NOT time-ordered (a fixture replay, not
    a live topic), so the watermark delay must cover the full event-time
    span (31 days) or genuinely-early rows would be dropped as late. On
    a live Kafka feed the delay would be the real out-of-orderness bound
    (minutes), keeping dedup state small."""
    ev = events_stream(spark, sf_dir)
    doubled = ev.unionByName(ev)
    deduped = doubled.withWatermark("ts", "31 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return stream_to_parquet(deduped, "dedup").agg(F.count(F.lit(1)).alias("n_unique"))


_ROUTING_ORACLE = """
SELECT CASE event_type
         WHEN 'purchase' THEN 'dwd_trade'
         WHEN 'signup' THEN 'dwd_user'
         WHEN 'error' THEN 'dwd_err'
         ELSE 'dwd_traffic' END AS route,
       COUNT(*) AS n,
       COUNT(DISTINCT user_id) AS uv
FROM events GROUP BY 1
"""


@register("config_routing", oracle=_ROUTING_ORACLE, section="T8")
def config_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 broadcast state / dynamic config (the reference's CDC-driven
    table-process routing): a small config table is re-read every
    micro-batch and broadcast-joined onto the data stream to tag each
    record with its destination route. Config changes between batches
    take effect on the next batch — exactly the Flink broadcast-state
    contract."""
    ev = events_stream(spark, sf_dir)
    config_path = workspace("config_routing_")
    rules = [
        ("purchase", "dwd_trade"),
        ("signup", "dwd_user"),
        ("error", "dwd_err"),
        ("click", "dwd_traffic"),
        ("view", "dwd_traffic"),
    ]
    spark.createDataFrame(rules, "event_type string, route string").write.mode(
        "overwrite"
    ).parquet(config_path)

    def route(batch_df: DataFrame) -> DataFrame:
        config = F.broadcast(batch_df.sparkSession.read.parquet(config_path))
        return batch_df.join(config, "event_type", "left").withColumn(
            "route", F.coalesce("route", F.lit("dwd_traffic"))
        )

    return (
        stream_to_parquet(ev, "routing", transform=route)
        .groupBy("route")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("user_id").alias("uv"))
    )


_NEARDUP_ORACLE = """
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_sort(list_distinct(list_transform(
                     range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
              ELSE [array_to_string(toks, ' ')]
         END AS sh
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
    FROM documents
  )
), probe AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
corpus AS (SELECT * FROM sh WHERE doc_id % 10 <> 0),
pairs AS (
  SELECT p.doc_id,
         CAST(len(list_intersect(p.sh, c.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(p.sh, c.sh))) AS DOUBLE) AS j
  FROM probe p, corpus c
), dups AS (
  SELECT doc_id, COUNT(*) AS n_dups, MAX(j) AS best
  FROM pairs WHERE j >= 0.5 GROUP BY doc_id
)
SELECT p.doc_id,
       COALESCE(d.n_dups, 0) AS n_dups,
       CAST(ROUND(COALESCE(d.best, 0.0), 4) AS DOUBLE) AS best_dup_jaccard,
       CAST(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END AS INT) AS admitted
FROM probe p LEFT JOIN dups d USING (doc_id)
"""


def neardup_admit_batch(probe: DataFrame, index: DataFrame) -> DataFrame:
    """Score a probe slice against the static corpus prefix index:
    equi-join on shared prefix tokens (the recall-exact candidate set),
    verify exact Jaccard JVM-side, reduce to the admission verdict."""
    from ..operators.llm import jaccard_prefix_len

    cands = (
        probe.select(
            "doc_id",
            "sh",
            F.explode(
                F.slice("sh", F.lit(1), jaccard_prefix_len(F.size("sh")))
            ).alias("tok"),
        )
        .join(index, "tok")
        .select("doc_id", "sh", "corpus_id", "sh_c")
        .distinct()
    )
    inter = F.size(F.array_intersect("sh", "sh_c")).cast("double")
    union = F.size(F.array_union("sh", "sh_c")).cast("double")
    dups = (
        cands.select("doc_id", (inter / union).alias("j"))
        .filter(F.col("j") >= 0.5)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.max("j").alias("best"))
    )
    return (
        probe.select("doc_id")
        .join(dups, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dups", F.lit(0)).alias("n_dups"),
            F.round(F.coalesce("best", F.lit(0.0)), 4)
            .cast("double")
            .alias("best_dup_jaccard"),
            F.col("best").isNull().cast("int").alias("admitted"),
        )
    )


@register("stream_neardup_admit", oracle=_NEARDUP_ORACLE, section="L2,T6,S1", reverify=6)
def stream_neardup_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup ADMISSION: incoming documents (a micro-batched
    stream — the ingest topic of a training-data pipeline) are checked
    against a static similarity index of the existing corpus; a doc is
    admitted iff no indexed doc reaches Jaccard ≥ 0.5. This is the
    incremental form of `llm_dedup_minhash` — at 100 TB you don't
    re-dedup the corpus per delivery, you probe its signature store.

    Round-6 upgrade (rows-only → FULL oracle): blocking switched from
    MinHash-LSH banding (probabilistic recall, not SQL-expressible) to
    PREFIX FILTERING over sorted shingle sets (SSJoin / Bayardo et al.
    WWW'07, `jaccard_prefix_len`): J(A,B) ≥ 0.5 pairs are GUARANTEED
    to share a token in their ⌊|X|/2⌋+1-element prefixes, so after the
    exact-Jaccard verify the verdicts equal the all-pairs ground truth
    — which is exactly what the DuckDB oracle brute-forces. Everything
    is JVM expressions (shingle_str_expr) — zero Python crossings,
    down from two pandas_udfs.

    Scale shape: the corpus index (shingles + exploded prefix tokens)
    is built ONCE and persisted; each micro-batch computes shingles for
    its own (small) slice and equi-joins the index on the prefix token
    — bucket co-location, no cross join. The prefix bounds candidate
    generation to ~half of each set's tokens; ordering tokens by
    ascending document frequency (the classic PPJoin refinement) would
    shrink hot buckets further — lexicographic order is kept here for
    cross-engine determinism. Per-doc results are independent of batch
    boundaries, so the streamed output equals the batch twin exactly
    (tests/test_streaming.py)."""
    from ..operators._util import widen
    from ..operators.llm import jaccard_prefix_len, shingle_str_expr

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    incoming = docs.where(F.col("doc_id") % 10 == 0)

    # widen: the single-file fixture scans as ONE task, which would
    # serialize the corpus-wide shingling; real stores have file counts
    store = widen(corpus).select(
        "doc_id", shingle_str_expr("text").alias("sh")
    ).persist()
    index = store.select(
        F.col("doc_id").alias("corpus_id"),
        F.col("sh").alias("sh_c"),
        F.explode(
            F.slice("sh", F.lit(1), jaccard_prefix_len(F.size("sh")))
        ).alias("tok"),
    ).persist()

    staged = stage(
        f"neardup_ingest_{os.path.basename(os.path.normpath(sf_dir))}",
        [table_path(sf_dir, "documents")], (4,),
        lambda tmp: incoming.repartition(4).write.parquet(tmp),
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    admitted = stream_to_parquet(
        stream, "neardup_admit",
        transform=lambda batch_df: neardup_admit_batch(
            batch_df.select("doc_id", shingle_str_expr("text").alias("sh")), index
        ),
    )
    store.unpersist()
    return admitted


_AGG_MERGE_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
"""


def sum_per_user(rows: DataFrame) -> DataFrame:
    """stream_agg_merge's table reduction: per-user sums of the count
    and the DECIMAL value, cast back to the table's column types."""
    return rows.groupBy("user_id").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("total_value").cast("decimal(18,4)").alias("total_value"),
    )


@register("stream_agg_merge", oracle=_AGG_MERGE_ORACLE, section="S7,S2,T6,A1", bench=True)
def stream_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 Doris AGGREGATE-KEY serving model: each micro-batch is
    MERGED into the serving table as a partial aggregate (sum-merge on
    the key) — the third Doris table model next to the UNIQUE-KEY upsert
    (stream_cdc_upsert) and the partitioned duplicate-key serving table
    (serving_partition_prune). The stream never replays old batches: the
    serving state is itself the aggregate, exactly how a Doris rollup
    ingests a Kafka feed.

    Exactness across merge rounds: running sums are DECIMAL(18,4)
    (associative, no float drift), cast to DOUBLE only in the final
    projection, so the merged result is bit-identical to the one-shot
    batch aggregate the oracle computes.

    The serving table is a ``plans/lakehouse.py`` table keyed on
    ``user_id`` — the same store as the UNIQUE-KEY paths, with a sum
    reduction (``sum_per_user``) instead of the latest image. Each
    micro-batch maps its raw rows to (user_id, 1, value) (count := sum
    of 1s — associative, so no per-batch pre-aggregation job is needed)
    and is one merge-on-read MERGE commit: the rows are written as a
    delta in one Spark job that scans the batch's source once, and no
    state is read or rewritten. Per-batch cost is O(batch), not O(all
    keys); the final read sums base ∪ deltas.

    No manifest records the batch id, and a sum is not idempotent: a
    replayed batch (a restart between the commit and the offset
    commit) is counted twice. The file sinks replace a replayed batch
    by its id (``write_batch``); this keyed store needs its commit to
    record a (queryId, batchId) txn for the same guarantee.

    Scale: compaction folds the deltas into base once there are more
    than a few (the sum runs inside the compaction's range partitions,
    so it costs no extra shuffle). At 100 TB of history the state table
    is still only O(users)."""
    from ..operators._util import dec
    from ..plans.lakehouse import LakeTable

    ev = events_stream(spark, sf_dir)
    table = LakeTable(workspace("agg_merge_"), "user_id", reduce=sum_per_user)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.select(
            "user_id",
            F.lit(1).cast("bigint").alias("n_events"),
            dec("value").alias("total_value"),
        )
        table.merge(spark, rows)

    run_stream(ev.writeStream.outputMode("append").foreachBatch(merge), "agg_merge")
    return table.read(spark).select(
        "user_id",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    )
