"""Operator metrics (the reference's Flink metric counters, SURVEY §6).

Flink jobs expose per-operator counters (records in/out, dirty-record
counts) through the runtime's metric registry. Spark's equivalent for
batch and foreachBatch sinks is the Observation API: named aggregate
expressions evaluated DURING the action, with no second pass over the
data and no extra job — the engine collects them alongside the normal
result.

Streaming-side metrics (per-trigger durations, input rows, state
rows) come from StreamingQueryProgress instead, delivered through a
query listener: ``stream_progress`` collects the progress of the queries
a block starts. JVM-wide counters come from Spark's own metric sources:
``codegen_compiles`` reads the codegen one.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import Observation
from pyspark.sql.streaming import StreamingQueryListener

# How long ``await_observation`` waits for an action's metrics to post.
_OBSERVATION_WAIT_S = 60.0


def await_observation(obs: Observation, who: str) -> dict:
    """``obs.get``, bounded: the metrics of an action that has already
    run over the observed frame. The post lands on a listener thread a
    moment after the action returns, so wait for it, but at most
    ``_OBSERVATION_WAIT_S`` seconds: an Observation no action ran on
    raises instead of hanging its caller forever."""
    jo = getattr(obs, "_jo", None)
    if jo is None:
        raise RuntimeError(f"{who}: Observation was never attached to a DataFrame")
    posted = jo.future()
    deadline = time.monotonic() + _OBSERVATION_WAIT_S
    while not posted.isCompleted():
        if time.monotonic() > deadline:
            raise RuntimeError(
                f"{who}: Observation never posted; an action over the "
                "observed frame must run before its metrics are read"
            )
        time.sleep(0.005)
    return obs.get


def codegen_compiles(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far, across
    every session on it: the "what was reused" counter for whole-stage
    codegen. A plan whose classes are still in Spark's codegen cache
    compiles none, so the difference over a repeat of the same plans
    is 0 when the cache holds their working set."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


class _RunProgress(StreamingQueryListener):
    """Appends the progress of every query whose start it saw."""

    def __init__(self, progress: list):
        self.progress = progress
        self.run_ids: set[str] = set()

    def onQueryStarted(self, event):
        self.run_ids.add(str(event.runId))

    def onQueryProgress(self, event):
        if str(event.progress.runId) in self.run_ids:
            self.progress.append(event.progress)

    def onQueryTerminated(self, event):
        pass


@contextmanager
def stream_progress(spark):
    """Yield a list that holds, once the block exits, the
    ``StreamingQueryProgress`` of every micro-batch of the streaming
    queries started inside the block, in delivery order. A query's
    start event reaches the listener synchronously, so progress is
    attributed by run id: a query started before the block contributes
    nothing, even when its last batches are still queued on the
    listener bus. On exit the bus is drained, so the progress of a run
    that finished inside the block is complete."""
    progress: list = []
    listener = _RunProgress(progress)
    spark.streams.addListener(listener)
    try:
        yield progress
    finally:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        spark.streams.removeListener(listener)
