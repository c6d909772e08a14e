"""Structured Streaming semantics: the streaming forms of the event-time
operators must converge to their batch twins' results (SURVEY §2.8)."""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F

from .conftest import SF_DIR


def _run_stream_agg(spark, stream_df, out, out_mode="complete"):
    """Windowed agg → memory-equivalent parquet sink (at ``out``) via
    foreachBatch."""

    def sink(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(out)

    from flink_realtime_2024_spark.streaming.jobs import run_stream

    run_stream(stream_df.writeStream.outputMode(out_mode).foreachBatch(sink), "t")
    return spark.read.parquet(out)


def test_streaming_tumbling_equals_batch(spark, tmp_path):
    """readStream + watermark + window == batch window on the same data.
    Watermark covers the (unordered) replay span so nothing is late."""
    from flink_realtime_2024_spark.streaming.jobs import events_stream
    from flink_realtime_2024_spark.streaming.event_time import window_tumbling

    ev = events_stream(spark, SF_DIR)
    agg = (
        ev.withWatermark("ts", "31 days")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("bucket_us"),
            "event_type",
            "n_events",
        )
    )
    got = {
        (r["bucket_us"], r["event_type"]): r["n_events"]
        for r in _run_stream_agg(spark, agg, str(tmp_path)).collect()
    }
    want = {
        (r["bucket_us"], r["event_type"]): r["n_events"]
        for r in window_tumbling(spark, SF_DIR).select(
            "bucket_us", "event_type", "n_events"
        ).collect()
    }
    assert got == want


def test_streaming_session_window_equals_batch(spark, tmp_path):
    """Streaming session_window (update via complete rewrite) == batch
    sessionization."""
    from flink_realtime_2024_spark.streaming.jobs import events_stream
    from flink_realtime_2024_spark.streaming.event_time import window_session

    ev = events_stream(spark, SF_DIR)
    agg = (
        ev.withWatermark("ts", "31 days")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
        )
    )
    got = {
        (r["user_id"], r["session_start_us"]): r["n_events"]
        for r in _run_stream_agg(spark, agg, str(tmp_path)).collect()
    }
    want = {
        (r["user_id"], r["session_start_us"]): r["n_events"]
        for r in window_session(spark, SF_DIR).select(
            "user_id", "session_start_us", "n_events"
        ).collect()
    }
    assert got == want


def test_stateful_first_visits_equals_batch(spark):
    """T5 applyInPandasWithState across micro-batches: the union of
    per-batch first-visit emissions covers exactly the batch twin's
    (user, day) set — state must survive between micro-batches via the
    checkpointed store, and a day must never be emitted twice.

    (first_event_id is arrival-order-dependent: the staged replay is not
    time-ordered, so only the key set is replay-order-invariant.)"""
    from flink_realtime_2024_spark.streaming.stateful import run_first_visits
    from flink_realtime_2024_spark.streaming.event_time import state_first_visit

    emitted = run_first_visits(spark, SF_DIR).collect()
    got = [(r["user_id"], r["day"]) for r in emitted]
    assert len(got) == len(set(got)), "a (user, day) was emitted twice"
    want = {
        (r["user_id"], r["day"])
        for r in state_first_visit(spark, SF_DIR).select("user_id", "day").collect()
    }
    assert set(got) == want and len(got) > 0


def test_order_timeout_timers(spark):
    """T5 event-time timers: purchases confirmed by a signup within 1h
    emit 'confirmed'; otherwise the GroupState timeout fires 'timed_out'
    once the watermark passes. Invariants hold against the raw data:
    confirmed ⇒ signup exists in window; timed_out ⇒ it doesn't."""
    from flink_realtime_2024_spark.streaming.stateful import run_order_timeouts
    from flink_realtime_2024_spark.sources.io import load_table

    out = run_order_timeouts(spark, SF_DIR).collect()
    assert out, "no outcomes emitted"
    outcomes = {r["outcome"] for r in out}
    assert outcomes <= {"confirmed", "timed_out"}

    ev = load_table(spark, SF_DIR, "events")
    signups = {}
    for r in (
        ev.filter(F.col("event_type") == "signup")
        .select("user_id", F.unix_micros("ts").alias("us"))
        .collect()
    ):
        signups.setdefault(r["user_id"], []).append(r["us"])
    window_us = 3_600_000_000
    for r in out:
        in_window = any(
            r["purchase_us"] < s <= r["purchase_us"] + window_us
            for s in signups.get(r["user_id"], [])
        )
        if r["outcome"] == "confirmed":
            assert in_window, f"confirmed without signup in window: {r}"
        else:
            assert not in_window, f"timed_out despite signup in window: {r}"
    # a purchase decides at most once
    keys = [(r["user_id"], r["purchase_event_id"]) for r in out]
    assert len(keys) == len(set(keys))


def test_stream_stream_interval_join_equals_batch(spark):
    """J4 streaming form: a stream-stream join with an equi-key + event-
    time range condition and watermarks on both sides must produce the
    batch interval join's pairs. (Watermarks bound both sides' state to
    the interval width on a live feed; here they cover the replay span.)"""
    from flink_realtime_2024_spark.streaming.jobs import stream_stream_join
    from flink_realtime_2024_spark.operators.joins import join_interval

    got = {tuple(r) for r in stream_stream_join(spark, SF_DIR).collect()}
    want = {
        (r["purchase_id"], r["click_id"])
        for r in join_interval(spark, SF_DIR).select("purchase_id", "click_id").collect()
    }
    assert got == want and len(want) > 0


def test_late_rows_are_counted(spark):
    """T7: no late side output exists in Structured Streaming (documented
    gap); the numRowsDroppedByWatermark metric must make the loss
    observable when the watermark is short and the replay is unordered."""
    from flink_realtime_2024_spark.streaming.jobs import late_rows_metrics

    m = late_rows_metrics(spark, SF_DIR, delay="1 hour")
    assert m["batches"] >= 2
    assert m["dropped"] > 0, f"expected late rows to be dropped+counted: {m}"


def test_late_split_side_output(spark):
    """T7 side-output emulation: (1) main + late partition the input —
    nothing is dropped, unlike the stateful-op drop path; (2) the
    unordered replay guarantees a non-empty late side output; (3) the
    late branch is a strict subset (no double-count)."""
    from flink_realtime_2024_spark.sources.io import load_table
    from flink_realtime_2024_spark.streaming.jobs import stream_late_split

    counts = {r["branch"]: r["n"] for r in stream_late_split(spark, SF_DIR).collect()}
    total = load_table(spark, SF_DIR, "events").count()
    assert set(counts) == {"main", "late"}
    assert counts["main"] + counts["late"] == total
    assert counts["late"] > 0, "unordered replay must produce late rows"
    # (the replay is randomly shuffled, so the batch-1 watermark jumps
    # near the global max event time and most later rows are late —
    # hostile input, but exactly Flink's watermark definition; an
    # in-order topic would make `late` a small minority)
    assert counts["main"] > 0


def test_streaming_runs_in_micro_batches(spark, tmp_path):
    """The staged replay really produces multiple micro-batches (the
    maxFilesPerTrigger=1 'topic' contract the jobs rely on)."""
    from flink_realtime_2024_spark.streaming.jobs import events_stream, run_stream

    ev = events_stream(spark, SF_DIR)
    seen = []
    out = str(tmp_path)

    def sink(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    run_stream(ev.writeStream.foreachBatch(sink), "mb")
    assert len(seen) >= 3, f"expected multiple micro-batches, got {seen}"
    assert sum(n for _, n in seen) == spark.read.parquet(
        f"{SF_DIR}/events.parquet"
    ).count()


def test_checkpoint_recovery_is_exactly_once(spark, tmp_path_factory):
    """S11 checkpoint semantics: re-starting a query on the SAME
    checkpoint dir must not reprocess already-committed micro-batches —
    the second run finds the source exhausted and the sink state is
    unchanged (exactly-once across restarts, the property HDFS
    checkpointing gives the reference)."""
    import os

    from flink_realtime_2024_spark.streaming.jobs import events_stream

    ev = events_stream(spark, SF_DIR)
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    out = str(tmp_path_factory.mktemp("ckpt_recovery_out"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_recovery"))

    def sink(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(os.path.join(out, f"batch={batch_id}"))

    def run_once():
        q = (
            counts.writeStream.outputMode("complete")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    run_once()
    batches_first = set(os.listdir(out))
    state_first = {tuple(r) for r in spark.read.parquet(out + "/batch=*").collect()}

    q2 = run_once()  # same checkpoint: nothing new to process
    assert set(os.listdir(out)) == batches_first, "restart reprocessed batches"
    state_second = {tuple(r) for r in spark.read.parquet(out + "/batch=*").collect()}
    assert state_second == state_first
    assert all(p["numInputRows"] == 0 for p in q2.recentProgress)


def test_stateful_operators_run_at_session_width(spark):
    """A stateful operator fixes its partition count, one state store
    each, at its query's first batch, and AQE never coalesces it: the
    session width is what every batch opens and commits. prepare() sets
    it to the session's defaultParallelism, so the stateful streaming ids
    run one state store per core, not a wider constant's."""
    from flink_realtime_2024_spark.observability import stream_progress
    from flink_realtime_2024_spark.streaming.jobs import stream_dedup, stream_source_smoke

    width = spark.sparkContext.defaultParallelism
    with stream_progress(spark) as progress:
        for build in (stream_dedup, stream_source_smoke):
            build(spark, SF_DIR).collect()
    ops = [op for p in progress for op in p.stateOperators]
    assert ops, "no stateful operator reported progress"
    widths = {(op.numShufflePartitions, op.numStateStoreInstances) for op in ops}
    assert widths == {(width, width)}, widths


def test_resumed_stateful_stream_keeps_checkpoint_width(spark, tmp_path):
    """Operator state is keyed by the shuffle, so the width a checkpoint
    was written at holds for its whole life: a stateful aggregate
    started on a wider session (a larger host's) and resumed after
    prepare() set this host's width keeps the first width, and its
    final state equals the batch answer."""
    import os
    import shutil

    from flink_realtime_2024_spark.observability import stream_progress
    from flink_realtime_2024_spark.session import prepare
    from flink_realtime_2024_spark.sources.io import load_table
    from flink_realtime_2024_spark.streaming.jobs import _staged_events_dir, topic_stream

    staged = _staged_events_dir(spark, SF_DIR)
    files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    src, out, ckpt = (str(tmp_path / d) for d in ("topic", "out", "ckpt"))
    os.mkdir(src)
    shutil.copy(os.path.join(staged, files[0]), src)
    counts = topic_stream(spark, src).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

    def run() -> list[int]:
        with stream_progress(spark) as progress:
            (
                counts.writeStream.outputMode("complete")
                .foreachBatch(lambda df, _: df.write.mode("overwrite").parquet(out))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        return [op.numShufflePartitions for p in progress for op in p.stateOperators]

    host = spark.sparkContext.defaultParallelism
    wide = 2 * host
    spark.conf.set("spark.sql.shuffle.partitions", str(wide))
    try:
        first = run()  # one batch: the topic holds one file so far
    finally:
        prepare(spark)
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(host)
    for f in files[1:]:
        shutil.copy(os.path.join(staged, f), src)
    resumed = run()
    assert first == [wide], first
    assert len(resumed) == len(files) - 1 and set(resumed) == {wide}, resumed
    want = load_table(spark, SF_DIR, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    assert {tuple(r) for r in spark.read.parquet(out).collect()} == {
        tuple(r) for r in want.collect()
    }


def test_streaming_sliding_window_equals_batch(spark, tmp_path):
    """T3 streaming form: sliding windows (2h length / 1h hop, matching
    the batch twin) over the watermarked stream equal the batch answer."""
    from flink_realtime_2024_spark.streaming.jobs import events_stream
    from flink_realtime_2024_spark.streaming.event_time import window_sliding

    ev = events_stream(spark, SF_DIR)
    agg = (
        ev.withWatermark("ts", "31 days")
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("bucket_us"),
            "n_events",
        )
    )
    got = {
        (r["bucket_us"], r["n_events"])
        for r in _run_stream_agg(spark, agg, str(tmp_path)).collect()
    }
    want = {
        (r["bucket_us"], r["n_events"])
        for r in window_sliding(spark, SF_DIR).select("bucket_us", "n_events").collect()
    }
    assert got == want and len(got) > 0


def test_neardup_admit_equals_batch_twin(spark):
    """stream_neardup_admit's per-doc verdicts depend only on the static
    index, never on micro-batch boundaries — the streamed output must
    equal a one-shot batch run of the SAME scorer over the whole probe
    slice. (Value correctness vs all-pairs ground truth is the driver's
    DuckDB oracle; prefix-filter recall is test_semantics.py's job.)"""
    from flink_realtime_2024_spark.operators.llm import (
        jaccard_prefix_len,
        shingle_str_expr,
    )
    from flink_realtime_2024_spark.sources.io import load_table
    from flink_realtime_2024_spark.streaming.jobs import (
        neardup_admit_batch,
        stream_neardup_admit,
    )

    streamed = {
        (r["doc_id"], r["n_dups"], r["best_dup_jaccard"], r["admitted"])
        for r in stream_neardup_admit(spark, SF_DIR).collect()
    }

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    store = docs.where(F.col("doc_id") % 10 != 0).select(
        "doc_id", shingle_str_expr("text").alias("sh")
    )
    index = store.select(
        F.col("doc_id").alias("corpus_id"),
        F.col("sh").alias("sh_c"),
        F.explode(
            F.slice("sh", F.lit(1), jaccard_prefix_len(F.size("sh")))
        ).alias("tok"),
    )
    probe = docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", shingle_str_expr("text").alias("sh")
    )
    batch = {
        (r["doc_id"], r["n_dups"], r["best_dup_jaccard"], r["admitted"])
        for r in neardup_admit_batch(probe, index).collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_prefix_filter_recall_exact(spark):
    """Prefix filtering must be recall-EXACT at J ≥ 0.5: the candidate
    set produced by joining ⌊s/2⌋+1-element prefixes contains EVERY
    pair the brute-force cross join scores at ≥ 0.5 (the property the
    stream_neardup_admit oracle relies on)."""
    from flink_realtime_2024_spark.operators.llm import (
        jaccard_prefix_len,
        shingle_str_expr,
    )
    from flink_realtime_2024_spark.sources.io import load_table

    docs = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", shingle_str_expr("text").alias("sh"))
        .limit(200)
        .persist()
    )
    a = docs.select(F.col("doc_id").alias("ida"), F.col("sh").alias("sha"))
    b = docs.select(F.col("doc_id").alias("idb"), F.col("sh").alias("shb"))
    j = (
        F.size(F.array_intersect("sha", "shb")).cast("double")
        / F.size(F.array_union("sha", "shb")).cast("double")
    )
    truth = {
        (r["ida"], r["idb"])
        for r in a.crossJoin(b)
        .where(F.col("ida") < F.col("idb"))
        .where(j >= 0.5)
        .collect()
    }
    pref = docs.select(
        "doc_id",
        "sh",
        F.explode(
            F.slice("sh", F.lit(1), jaccard_prefix_len(F.size("sh")))
        ).alias("tok"),
    )
    pa = pref.select(F.col("doc_id").alias("ida"), "tok")
    pb = pref.select(F.col("doc_id").alias("idb"), "tok")
    cands = {
        (r["ida"], r["idb"])
        for r in pa.join(pb, "tok").where(F.col("ida") < F.col("idb")).collect()
    }
    docs.unpersist()
    assert truth <= cands, truth - cands


def test_checkpoint_resume_exactly_once(spark, tmp_path_factory):
    """S11 checkpointing, proven directly: a file-sink stream is STOPPED
    mid-topic after its first micro-batches commit, then a NEW query
    resumes from the same checkpoint and drains the rest. The resumed
    run must (a) not reprocess what the first run committed and (b) not
    lose anything — the final sink contents equal one batch read of the
    whole topic, row for row. This is the Flink
    checkpoint/savepoint-restart contract on Spark's commit-log sink."""
    import os
    import time

    from flink_realtime_2024_spark.sources.io import events_ts_to_timestamp
    from flink_realtime_2024_spark.streaming.jobs import staged_events_dir_ordered

    staged = staged_events_dir_ordered(spark, SF_DIR)
    ckpt = str(tmp_path_factory.mktemp("resume_ckpt"))
    out = str(tmp_path_factory.mktemp("resume_out"))
    schema = spark.read.parquet(staged).schema

    def writer():
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        return (
            events_ts_to_timestamp(raw)
            .select("event_id", "user_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
        )

    # phase 1: run continuously, stop as soon as ≥1 batch has committed
    q = writer().start()
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q.lastProgress
        if p and p["numInputRows"] > 0 and q.status["isDataAvailable"] is not None:
            committed = [f for f in os.listdir(out) if f.endswith(".parquet")]
            if committed:
                break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    n_phase1 = spark.read.parquet(out).count()

    # phase 2: RESUME from the same checkpoint; drain the remainder
    q2 = writer().trigger(availableNow=True).start()
    q2.awaitTermination()

    final = spark.read.parquet(out)
    batch = spark.read.parquet(staged).select("event_id", "user_id", "event_type")
    assert final.count() == batch.count(), (
        f"resume lost/duplicated rows: phase1={n_phase1}, "
        f"final={final.count()}, expected={batch.count()}"
    )
    # exact multiset equality (event_id is unique → set equality suffices)
    assert final.select("event_id").exceptAll(batch.select("event_id")).count() == 0
    assert batch.select("event_id").exceptAll(final.select("event_id")).count() == 0


def test_late_event_refires_window_update_mode(spark, tmp_path_factory):
    """T7 allowed-lateness RE-EMISSION parity (the Flink contract, now
    tested rather than documented): in update output mode, a window
    result already emitted in an earlier micro-batch must be RE-EMITTED
    with its updated aggregate when a late-but-within-watermark event
    arrives — and must NOT re-fire once the watermark has closed the
    window. Flink: window fires at wm >= end, re-fires per late element
    until wm >= end + allowedLateness; Spark carries the same semantics
    with delay = out-of-orderness + allowed lateness and update mode.

    Topic replay (one file per micro-batch, mtime-ordered; 2 h delay):
      b0  10:05, 10:20        -> [10:00,11:00) count=2 emitted; wm 08:20
      b1  12:30               -> wm 10:30; [12:00,13:00) emitted
      b2  10:40 (late, > wm)  -> RE-FIRE: [10:00,11:00) count=3
      b3  15:00               -> wm 13:00 > 11:00: window state evicted
      b4  18:00               -> spacer: Spark's late-INPUT filter uses
                                 the previous batch's wm (eviction uses
                                 the current one — measured), so the
                                 drop needs wm(b4)=13:00 committed
      b5  10:45 (too late)    -> dropped, NO re-fire
    """
    import os
    import time

    from flink_realtime_2024_spark.streaming.jobs import run_stream

    topic = str(tmp_path_factory.mktemp("refire_topic"))
    batches = [
        ["2024-03-01 10:05:00", "2024-03-01 10:20:00"],
        ["2024-03-01 12:30:00"],
        ["2024-03-01 10:40:00"],  # late, inside allowed lateness
        ["2024-03-01 15:00:00"],  # advances wm past window end
        ["2024-03-01 18:00:00"],  # spacer: commits that wm for filtering
        ["2024-03-01 10:45:00"],  # too late: beyond allowed lateness
    ]
    base = int(time.time()) - 1000
    for i, ts_list in enumerate(batches):
        p = os.path.join(topic, f"b{i}.parquet")
        spark.createDataFrame(
            [(ts,) for ts in ts_list], "ts_str string"
        ).select(F.to_timestamp("ts_str").alias("ts")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(p)
        os.utime(p, (base + i, base + i))
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (base + i, base + i))

    stream = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(topic, "*"))
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("window.start", "HH:mm").alias("w"),
            "n",
        )
    )
    out = str(tmp_path_factory.mktemp("refire_out"))
    emissions: list[tuple[int, str, int]] = []

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            emissions.append((batch_id, r["w"], r["n"]))
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out, f"batch={batch_id}")
        )

    run_stream(agg.writeStream.outputMode("update").foreachBatch(sink), "refire")

    w10 = [(b, n) for b, w, n in emissions if w == "10:00"]
    # fired once with the on-time result, re-fired ONCE with the late
    # update — and never again after the watermark closed the window
    # (the too-late b5 event neither re-fires nor resurrects the
    # evicted window as a fresh count-1 result)
    assert [n for _, n in w10] == [2, 3], emissions
    assert w10[0][0] < w10[1][0], "re-fire must come in a later batch"
    # update-mode emissions only ever carry changed windows: the 12:00
    # window fires exactly once
    assert [n for b, w, n in emissions if w == "12:00"] == [1]


def test_stream_stream_join_state_is_bounded(spark, tmp_path_factory):
    """J4 stream-stream interval join STATE EVICTION, measured (r7
    verdict task #5): with a realistic watermark, the symmetric-hash
    join's state store must PLATEAU once the watermark passes the
    interval bound — old rows are evicted, state is O(interval width ×
    rate), not O(stream length). Without eviction, state grows linearly
    with every batch and a 100 TB/day feed OOMs by lunch.

    Topic: 10 mtime-ordered files, one per hour of event time, each
    carrying the same number of click+purchase rows for 4 users; join
    window 30 min, watermark 10 min — so each micro-batch retires the
    prior hour's rows. Asserts on lastProgress.stateOperators across
    batches: rows ARE removed, and max state after warm-up stays under
    3 batches' worth (vs 10 batches ingested)."""
    import os
    import time

    from flink_realtime_2024_spark.streaming.jobs import run_stream

    topic = str(tmp_path_factory.mktemp("ssj_state_topic"))
    n_batches, users = 10, range(4)
    base_mtime = int(time.time()) - 1000
    for i in range(n_batches):
        rows = []
        for u in users:
            # a click and a purchase 5 min later, per user per hour
            rows.append((1000 * i + u, u, "click", f"2024-03-01 {i:02d}:10:00"))
            rows.append((2000 * i + u, u, "purchase", f"2024-03-01 {i:02d}:15:00"))
        p = os.path.join(topic, f"b{i}.parquet")
        spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts_str string"
        ).select(
            "event_id", "user_id", "event_type", F.to_timestamp("ts_str").alias("ts")
        ).coalesce(1).write.mode("overwrite").parquet(p)
        os.utime(p, (base_mtime + i, base_mtime + i))
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (base_mtime + i, base_mtime + i))

    stream = (
        spark.readStream.schema("event_id long, user_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(topic, "*"))
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("pu"),
            F.col("ts").alias("pts"),
        )
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("cu"),
            F.col("ts").alias("cts"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("cu") == F.col("pu"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("cts") <= F.col("pts")),
    ).select("purchase_id", "click_id")

    out = str(tmp_path_factory.mktemp("ssj_state_out"))

    def sink(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(os.path.join(out, f"batch={batch_id}"))

    q = run_stream(joined.writeStream.outputMode("append").foreachBatch(sink), "ssjstate")

    state_rows, removed = [], 0
    for p in q.recentProgress:
        for op in p["stateOperators"]:
            state_rows.append(op["numRowsTotal"])
            removed += op.get("numRowsRemoved", 0)

    per_batch = 2 * len(list(users))  # rows ingested per micro-batch
    total_ingested = n_batches * per_batch
    assert removed > 0, f"no state eviction observed: {state_rows}"
    # plateau: after warm-up the store holds ≲2 batches (current +
    # not-yet-retired previous), never approaching the full stream
    plateau = max(state_rows[3:])
    assert plateau <= 3 * per_batch, (
        f"state grew past the interval bound: {state_rows} "
        f"(ingested {total_ingested})"
    )
    assert plateau < total_ingested / 2, state_rows
    # and the join itself was correct: one click per purchase
    got = spark.read.parquet(out)
    assert got.count() == n_batches * len(list(users))


def _jobs_per_batch(spark, monkeypatch, build):
    """Run ``build(spark, SF_DIR)``, which starts exactly one stream;
    return its Spark job count per micro-batch (the jobs in the
    query's runId job group, grouped by their ``batch = N``
    description) and the query's ``recentProgress``."""
    import re

    from flink_realtime_2024_spark.streaming import jobs

    queries = []
    real_run_stream = jobs.run_stream

    def capture(df_writer, tag):
        q = real_run_stream(df_writer, tag)
        queries.append(q)
        return q

    monkeypatch.setattr(jobs, "run_stream", capture)
    sc = spark.sparkContext._jsc.sc()
    first_job = sc.dagScheduler().numTotalJobs()
    build(spark, SF_DIR)
    sc.listenerBus().waitUntilEmpty(60_000)
    (q,) = queries
    store = sc.statusStore()
    per_batch: dict[str, int] = {}
    for jid in range(first_job, sc.dagScheduler().numTotalJobs()):
        job = store.job(jid)
        if job.jobGroup().isDefined() and job.jobGroup().get() == str(q.runId):
            desc = job.description().get() if job.description().isDefined() else ""
            batch = re.search(r"batch = (\d+)", desc).group(1)
            per_batch[batch] = per_batch.get(batch, 0) + 1
    progress = q.recentProgress
    assert len(per_batch) == len(progress) >= 2, (per_batch, len(progress))
    return per_batch, progress


def test_stream_lake_merge_jobs_per_batch_and_single_scan(spark, monkeypatch):
    """stream_lake_merge's per-batch cost, in counters that do not
    depend on the machine: every micro-batch runs at most 1 Spark job
    in the query's runId job group (the merge-on-read delta write, with
    its stats observed on the write itself), and the source is scanned
    exactly once — the rows the query's progress reports equal the
    staged topic's rows (a second scan of a batch would add its rows
    again)."""
    from flink_realtime_2024_spark.plans.lakehouse import stream_lake_merge
    from flink_realtime_2024_spark.sources.cdc import build_changelog

    per_batch, progress = _jobs_per_batch(spark, monkeypatch, stream_lake_merge)
    assert max(per_batch.values()) <= 1, per_batch
    assert sum(p["numInputRows"] for p in progress) == build_changelog(spark, SF_DIR).count()


def test_stream_agg_merge_jobs_per_batch_and_single_scan(spark, monkeypatch):
    """stream_agg_merge commits each micro-batch as one LakeTable MERGE
    into a table with a sum reduction, so it has the same per-batch
    cost as stream_lake_merge: at most 1 Spark job per batch, and the events
    source scanned exactly once — the rows the query's progress reports
    equal the events row count (a second scan of a batch, e.g. a
    separate touched-key discovery job, would add its rows again)."""
    from flink_realtime_2024_spark.sources.io import load_table
    from flink_realtime_2024_spark.streaming.jobs import stream_agg_merge

    per_batch, progress = _jobs_per_batch(spark, monkeypatch, stream_agg_merge)
    assert max(per_batch.values()) <= 1, per_batch
    assert sum(p["numInputRows"] for p in progress) == load_table(spark, SF_DIR, "events").count()


def test_stream_cdc_upsert_jobs_per_batch_and_single_scan(spark, monkeypatch):
    """stream_cdc_upsert's dim store is the same merge-on-read LakeTable
    as stream_lake_merge: at most 1 Spark job per micro-batch, and the
    binlog topic scanned exactly once."""
    from flink_realtime_2024_spark.sources.cdc import build_changelog, stream_cdc_upsert

    per_batch, progress = _jobs_per_batch(spark, monkeypatch, stream_cdc_upsert)
    assert max(per_batch.values()) <= 1, per_batch
    assert sum(p["numInputRows"] for p in progress) == build_changelog(spark, SF_DIR).count()


def test_stream_split_jobs_per_batch(spark, monkeypatch):
    """stream_split tags each row with its branch, so a micro-batch is
    one write: at most 1 Spark job per batch, whatever the number of
    branches."""
    from flink_realtime_2024_spark.streaming.jobs import stream_split

    per_batch, _ = _jobs_per_batch(spark, monkeypatch, stream_split)
    assert max(per_batch.values()) <= 1, per_batch


def test_stream_late_split_jobs_per_batch(spark, monkeypatch):
    """stream_late_split tags each row main or late and observes the
    batch's max event time on that same write: at most 1 Spark job per
    micro-batch, with no persist or second branch write."""
    from flink_realtime_2024_spark.streaming.jobs import stream_late_split

    per_batch, _ = _jobs_per_batch(spark, monkeypatch, stream_late_split)
    assert max(per_batch.values()) <= 1, per_batch


def test_write_batch_replay_is_idempotent(spark, tmp_path):
    """The file sink keys an append-mode batch by its id: writing batch
    1 again (a replay after a restart between the sink write and the
    offset commit) replaces it instead of adding its rows twice."""
    from flink_realtime_2024_spark.streaming.jobs import write_batch

    out = str(tmp_path / "sink")
    write_batch(spark.range(3), 0, out)
    write_batch(spark.range(10, 15), 1, out)
    write_batch(spark.range(10, 15), 1, out)
    got = sorted(r["id"] for r in spark.read.parquet(out).drop("batch").collect())
    assert got == [0, 1, 2, 10, 11, 12, 13, 14]


def test_run_stream_removes_checkpoint_dir(spark):
    """run_stream removes its checkpoint once the query has stopped, so
    a long-lived process keeps no dir per run."""
    import os

    from flink_realtime_2024_spark.sources import io
    from flink_realtime_2024_spark.streaming.jobs import stream_source_smoke

    before = len(io._WORKSPACES)
    stream_source_smoke(spark, SF_DIR).collect()
    ckpts = [d for d in io._WORKSPACES[before:] if os.path.basename(d).startswith("ckpt_smoke_")]
    assert ckpts and not any(os.path.exists(d) for d in ckpts), ckpts


def test_streaming_builders_write_only_staged_and_workspace_dirs(spark, tmp_path, monkeypatch):
    """Every top-level dir a streaming builder leaves in the temp dir is
    either a ``stage()`` layout (``<name>_<16 hex>``, one per content)
    or a ``workspace`` dir (removed at interpreter exit)."""
    import os
    import re

    from flink_realtime_2024_spark.sources import io
    from flink_realtime_2024_spark.streaming.jobs import stream_source_smoke, stream_split
    from flink_realtime_2024_spark.streaming.stateful import run_first_visits

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for build in (stream_source_smoke, stream_split, run_first_visits):
        build(spark, SF_DIR).collect()
    staged = re.compile(r".+_[0-9a-f]{16}")
    entries = os.listdir(tmp_path)
    ours = [e for e in entries if str(tmp_path / e) in io._WORKSPACES]
    left = [e for e in entries if e not in ours and not staged.fullmatch(e)]
    assert ours and not left, (ours, left)
