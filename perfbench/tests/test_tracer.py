from __future__ import annotations

import pytest

from perfbench.tracer import Tracer, _covered, plan_nodes

_AQE_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (12)
+- == Final Plan ==
   ResultQueryStage (7)
   +- * HashAggregate (6)
      +- ShuffleQueryStage (5), Statistics(sizeInBytes=1.0 KiB)
         +- Exchange (4)
            +- * HashAggregate (3)
               +- ArrowEvalPython (2)
                  +- BroadcastExchange (1)
+- == Initial Plan ==
   HashAggregate (11)
   +- Exchange (10)
      +- HashAggregate (9)
         +- ArrowEvalPython (8)

(1) BroadcastExchange
Input [1]: [id#0L]
(4) Exchange
Input [2]: [k#1, count#2L]
"""


def test_plan_nodes_reads_only_the_final_plan_tree():
    nodes = plan_nodes(_AQE_PLAN)
    assert nodes == [
        "ResultQueryStage", "HashAggregate", "ShuffleQueryStage", "Exchange",
        "HashAggregate", "ArrowEvalPython", "BroadcastExchange",
    ]
    plain = "== Physical Plan ==\n* Project (2)\n+- Exchange (1)\n\n(1) Exchange\n"
    assert plan_nodes(plain) == ["Project", "Exchange"]


def test_covered_is_the_union_clipped_to_the_window():
    assert _covered([(0, 2), (1, 3), (5, 6), (9, 20)], 1, 10) == pytest.approx(2 + 1 + 1)
    assert _covered([], 0, 1) == 0.0


def _op(tracer, fn):
    mark = tracer.mark()
    fn()
    return tracer.counters(mark)


def test_job_attribution_sees_batch_and_stream_jobs(spark, tmp_path):
    sc = spark.sparkContext
    tracer = Tracer(spark, str(tmp_path), exclude_dirs=())
    tracer.install()
    tracer.active = True
    try:
        sc.setJobGroup("caller", "batch action")
        batch = _op(tracer, lambda: spark.range(1000, numPartitions=3).repartition(2).count())
        caller_batch_jobs = set(sc.statusTracker().getJobIdsForGroup("caller"))
        assert batch["jobs"] == len(caller_batch_jobs) >= 1
        assert batch["stream_jobs"] == 0 and batch["batches"] == 0
        assert batch["stages"] >= 1 and batch["tasks"] >= 3

        src = tmp_path / "topic"
        for i in range(3):
            spark.range(i * 10, i * 10 + 10).coalesce(1).write.mode("append").parquet(str(src))
        out, ckpt = tmp_path / "out", tmp_path / "ckpt"

        def stream():
            q = (
                spark.readStream.schema("id long").option("maxFilesPerTrigger", 1)
                .parquet(str(src)).writeStream.format("parquet")
                .option("path", str(out)).option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True).start()
            )
            q.awaitTermination()

        sc.setJobGroup("caller-stream", "stream op")
        streamed = _op(tracer, stream)
        caller_stream_jobs = set(sc.statusTracker().getJobIdsForGroup("caller-stream"))
        run_jobs = {
            j for rid in tracer.run_ids
            for j in sc.statusTracker().getJobIdsForGroup(rid)
        }
        # the stream thread's jobs miss the caller's group but not the range
        assert run_jobs and not (run_jobs & caller_stream_jobs)
        assert streamed["jobs"] == len(caller_stream_jobs | run_jobs)
        assert streamed["stream_jobs"] == len(run_jobs)
        assert streamed["batches"] == 3 and streamed["input_rows"] == 30
        assert streamed["trigger_s"] > 0
        assert streamed["bytes_written"] > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracer.uninstall()


def test_install_wraps_names_bound_by_import_and_uninstall_restores(spark, tmp_path):
    import flink_realtime_2024_spark.sources.cdc as cdc
    from flink_realtime_2024_spark.plans.lakehouse import LakeTable
    from flink_realtime_2024_spark.sources import io
    from flink_realtime_2024_spark.streaming import jobs

    originals = (io.load_table, cdc.load_table, jobs.run_stream, LakeTable.merge)
    tracer = Tracer(spark, str(tmp_path), exclude_dirs=())
    tracer.install()
    try:
        assert cdc.load_table is io.load_table is not originals[0]
        assert jobs.run_stream is not originals[2]
        assert LakeTable.merge is not originals[3]
    finally:
        tracer.uninstall()
    assert (io.load_table, cdc.load_table, jobs.run_stream, LakeTable.merge) == originals
