"""Outside-in tracing for the traced run (``--trace 1``).

Nothing here changes the program. The tracer records spans around the
benchmark's own calls into the package (builder, action) and
around public callables that the package looks up at call time
(``sources.io.load_table`` wherever it was bound by name,
``streaming.jobs.run_stream``, ``LakeTable.merge``). Counters come from
Spark's status store and a ``StreamingQueryListener``:

- jobs are attributed to an op by job-id range: one client thread runs
  one op at a time, and ``availableNow`` streams finish inside the
  builder, so every job with an id between the op's start and end
  belongs to it, including those the stream thread submits;
- stream jobs are told apart by their job group, which Structured
  Streaming sets to the query's ``runId``;
- per-stage totals are read with ``statusStore().lastStageAttempt(id)``
  for the stages of those jobs only, each stage once (a stage a later
  job skips keeps its id), so nothing lists every job of the run;
- plan node counts come from the SQL executions started during the op,
  found by execution id, reading the final adaptive plan.
"""

from __future__ import annotations

import functools
import os
import re
import sys
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_PKG = "flink_realtime_2024_spark"
_NODE_RE = re.compile(r"^[\s+\-:*]*([A-Za-z][A-Za-z0-9]*)(?: \[[^\]]*\])?\s\(\d+\)")
_PYTHON_NODE_RE = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF")
_STREAM_PHASES = {
    "triggerExecution": "trigger_s",
    "addBatch": "add_batch_s",
    "walCommit": "wal_commit_s",
    "commitOffsets": "commit_offsets_s",
    "latestOffset": "latest_offset_s",
    "getBatch": "get_batch_s",
    "queryPlanning": "query_planning_s",
}


def plan_nodes(description: str) -> list[str]:
    """Operator names of a formatted physical plan: the final plan of an
    adaptive plan, the whole tree otherwise; the numbered detail
    section after the tree is skipped."""
    tree = description.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return [m.group(1) for line in tree.splitlines() if (m := _NODE_RE.match(line))]


def _opt(x):
    """A py4j ``scala.Option`` as a Python value or None."""
    return x.get() if x.isDefined() else None


def _seq(x) -> list:
    return [x.apply(i) for i in range(x.size())]


class _Progress(StreamingQueryListener):
    """Collects each query's runId and every micro-batch's progress."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def onQueryStarted(self, event):
        self.tracer.run_ids.add(str(event.runId))

    def onQueryProgress(self, event):
        self.tracer.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Spans and counters for one traced run. ``active`` switches the
    installed wrappers between recording and pass-through, so traced and
    untraced passes can alternate in one process; the listener stays
    registered (its per-batch callback is the part not switched off)."""

    def __init__(self, spark, run_root: str, exclude_dirs: tuple[str, ...]):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.run_root = run_root
        self.exclude_dirs = exclude_dirs
        self.cores = spark.sparkContext.defaultParallelism
        self.spans: list[dict] = []
        self.context: dict = {}
        self.active = False
        self.run_ids: set[str] = set()
        self.progress: list = []
        self.lake = {"merges": 0, "merge_s": 0.0, "files_written": 0}
        self._stack: list[int] = []
        self._stages_seen: set[int] = set()
        self._restore: list[tuple[object, str, object]] = []
        self._listener = None

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **self.context,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _wrap_merge(self, fn):
        @functools.wraps(fn)
        def traced(table, *args, **kwargs):
            if not self.active:
                return fn(table, *args, **kwargs)
            before = _file_names(table.data_dir)
            t0 = time.perf_counter()
            with self.span("lakehouse.merge"):
                out = fn(table, *args, **kwargs)
            self.lake["merges"] += 1
            self.lake["merge_s"] += time.perf_counter() - t0
            self.lake["files_written"] += len(_file_names(table.data_dir) - before)
            return out

        return traced

    def install(self) -> None:
        """Wrap the call-time-looked-up public callables and register the
        streaming listener."""
        from flink_realtime_2024_spark.plans.lakehouse import LakeTable
        from flink_realtime_2024_spark.sources import io
        from flink_realtime_2024_spark.streaming import jobs

        targets = [
            (io.load_table, self._wrap(io.load_table, "sources.load_table")),
            (jobs.run_stream, self._wrap(jobs.run_stream, "streaming.run_stream")),
        ]
        for name, module in list(sys.modules.items()):
            if module is None or not (name == _PKG or name.startswith(_PKG + ".")):
                continue
            for original, wrapper in targets:
                for attr, value in list(vars(module).items()):
                    if value is original:
                        self._restore.append((module, attr, original))
                        setattr(module, attr, wrapper)
        self._restore.append((LakeTable, "merge", LakeTable.merge))
        LakeTable.merge = self._wrap_merge(LakeTable.merge)
        self._listener = _Progress(self)
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- counters ------------------------------------------------------
    def drain(self) -> None:
        """Wait until every queued listener event (status store, stream
        progress) has been delivered."""
        self.sc.listenerBus().waitUntilEmpty(60_000)

    def next_job_id(self) -> int:
        return self.sc.dagScheduler().numTotalJobs()

    def last_execution_id(self) -> int:
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        if n == 0:
            return -1
        return _seq(store.executionsList(n - 1, 1))[0].executionId()

    def mark(self) -> dict:
        """Counter positions at the start of an op."""
        return {
            "job": self.next_job_id(),
            "execution": self.last_execution_id(),
            "progress": len(self.progress),
            "lake": dict(self.lake),
            "wall": time.time(),
        }

    def counters(self, start: dict) -> dict:
        """Everything the op between ``start`` and now did."""
        self.drain()
        end_wall = time.time()
        store = self.sc.statusStore()
        c = {
            "jobs": 0, "stream_jobs": 0, "stages": 0,
            "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "scan_bytes": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "exchanges": 0, "broadcast_exchanges": 0,
            "python_nodes": 0,
        }
        intervals = []
        for jid in range(start["job"], self.next_job_id()):
            job = store.job(jid)
            c["jobs"] += 1
            if _opt(job.jobGroup()) in self.run_ids:
                c["stream_jobs"] += 1
            sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
            if sub is not None and done is not None:
                intervals.append((sub.getTime() / 1e3, done.getTime() / 1e3))
            for sid in _seq(job.stageIds()):
                if sid in self._stages_seen:
                    continue
                st = store.lastStageAttempt(sid)
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                self._stages_seen.add(sid)
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["scan_bytes"] += st.inputBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for eid in range(start["execution"] + 1, self.last_execution_id() + 1):
            data = _opt(sql.execution(eid))
            if data is None:
                continue
            for node in plan_nodes(data.physicalPlanDescription()):
                c["exchanges"] += node == "Exchange"
                c["broadcast_exchanges"] += node == "BroadcastExchange"
                c["python_nodes"] += bool(_PYTHON_NODE_RE.search(node))
        c["job_busy_s"] = _covered(intervals, start["wall"], end_wall)
        progress = self.progress[start["progress"]:]
        c["batches"] = len(progress)
        c["input_rows"] = sum(p.numInputRows for p in progress)
        c["microbatch_s"] = [p.durationMs.get("triggerExecution", 0) / 1e3 for p in progress]
        for phase, key in _STREAM_PHASES.items():
            c[key] = sum(p.durationMs.get(phase, 0) for p in progress) / 1e3
        c["state_commit_s"] = sum(
            s.commitTimeMs for p in progress for s in p.stateOperators
        ) / 1e3
        last = {}
        for p in progress:  # the last progress of each query holds its final state
            last[str(p.runId)] = p
        c["state_rows"] = sum(s.numRowsTotal for p in last.values() for s in p.stateOperators)
        c["state_memory_bytes"] = sum(
            s.memoryUsedBytes for p in last.values() for s in p.stateOperators
        )
        for key, value in self.lake.items():
            c[key] = value - start["lake"][key]
        c["bytes_written"] = _bytes_since(self.run_root, self.exclude_dirs, start["wall"])
        return c


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _file_names(path: str) -> set[str]:
    try:
        return set(os.listdir(path))
    except FileNotFoundError:
        return set()


def _bytes_since(root: str, exclude: tuple[str, ...], since: float) -> int:
    """Bytes of the files under ``root`` modified at or after ``since``,
    outside the ``exclude`` subtrees (Spark's shuffle and block files)."""
    total = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if os.path.join(dirpath, d) not in exclude]
        for f in filenames:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except FileNotFoundError:
                continue
            if st.st_mtime >= since:
                total += st.st_size
    return total
