"""Per-layer metrics of a traced run, named after the package's modules.

Counters and times are per warm pass: summed over the ops of each
traced warm pass, then averaged over those passes. The wall time of a
whole pass, ``ops.*_pass_s``, is that of the cold pass and the median of
the untraced warm passes. Set-up metrics are
the run's own; ``reuse`` compares the traced cold pass with the traced
warm passes; ``trace.overhead_share`` compares traced with untraced
warm passes of the same process.
"""

from __future__ import annotations

from perfbench import stats

_SUMMED = (
    "builder_s", "action_s", "wall", "jobs", "stages", "tasks", "exchanges",
    "broadcast_exchanges", "executor_run_s", "executor_cpu_s", "job_busy_s",
    "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "python_nodes", "batches", "input_rows", "stream_jobs", "trigger_s",
    "add_batch_s", "wal_commit_s", "commit_offsets_s", "latest_offset_s",
    "get_batch_s", "query_planning_s", "state_rows", "state_memory_bytes",
    "state_commit_s", "merges", "merge_s", "files_written", "bytes_written",
)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(run) -> dict[str, tuple[float, str]]:
    traced = [p for p in run.passes[1:] if p["traced"]]
    untraced = [p for p in run.passes[1:] if not p["traced"]]
    ops = [r for p in traced for r in p["ops"] if r["ok"]]
    n = len(traced)
    s = {k: sum(r[k] for r in ops) / n for k in _SUMMED}
    stream_wall = sum(r["wall"] for r in ops if r["batches"]) / n
    microbatches = [x for r in ops for x in r["microbatch_s"]]
    op_walls = [r["wall"] for r in ops]
    warm_by_op: dict[str, list[float]] = {}
    for r in ops:
        warm_by_op.setdefault(r["op"], []).append(r["wall"])
    cold = {r["op"]: r["wall"] for r in run.passes[0]["ops"] if r["ok"]}
    reuse = sum(cold[op] - stats.median(w) for op, w in warm_by_op.items() if op in cold)
    mb_pct, mb_tail = stats.tail(microbatches) if microbatches else (0.0, 0.0)
    op_pct, op_tail = stats.tail(op_walls)
    overhead = (
        stats.median([p["wall"] for p in traced]) / stats.median([p["wall"] for p in untraced])
        - 1.0
    )
    m = {
        "session.start_s": (run.session_s, "s"),
        "session.peak_rss_mb": (run.peak_rss_mb, "MiB"),
        "sources.stage_s": (run.stage_s, "s"),
        "sources.staged_bytes": (run.staged_bytes, "bytes"),
        "sources.scan_bytes": (s["scan_bytes"], "bytes"),
        "plans.builder_s": (s["builder_s"], "s"),
        "engine.action_s": (s["action_s"], "s"),
        "engine.jobs": (s["jobs"], "count"),
        "engine.stages": (s["stages"], "count"),
        "engine.tasks": (s["tasks"], "count"),
        "engine.exchanges": (s["exchanges"], "count"),
        "engine.broadcast_exchanges": (s["broadcast_exchanges"], "count"),
        "engine.executor_run_s": (s["executor_run_s"], "s"),
        "engine.executor_cpu_s": (s["executor_cpu_s"], "s"),
        "engine.cpu_share": (_ratio(s["executor_cpu_s"], s["executor_run_s"]), "ratio"),
        "engine.busy_share": (
            _ratio(s["executor_run_s"], s["wall"] * run.tracer.cores), "ratio"
        ),
        "engine.driver_only_s": (s["wall"] - s["job_busy_s"], "s"),
        "engine.shuffle_read_bytes": (s["shuffle_read_bytes"], "bytes"),
        "engine.shuffle_write_bytes": (s["shuffle_write_bytes"], "bytes"),
        "engine.spill_bytes": (s["spill_bytes"], "bytes"),
        "functions.python_nodes": (s["python_nodes"], "count"),
        "streaming.batches": (s["batches"], "count"),
        "streaming.input_rows": (s["input_rows"], "count"),
        "streaming.jobs_per_batch": (_ratio(s["stream_jobs"], s["batches"]), "ratio"),
        "streaming.events_per_s": (_ratio(s["input_rows"], stream_wall), "1/s"),
        "streaming.microbatch_p50_s": (
            stats.median(microbatches) if microbatches else 0.0, "s"
        ),
        "streaming.microbatch_tail_s": (mb_tail, "s"),
        "streaming.microbatch_tail_pct": (mb_pct, "%"),
    }
    for key in (
        "trigger_s", "add_batch_s", "wal_commit_s", "commit_offsets_s",
        "latest_offset_s", "get_batch_s", "query_planning_s", "state_commit_s",
    ):
        m[f"streaming.{key}"] = (s[key], "s")
    m.update({
        "streaming.state_rows": (s["state_rows"], "count"),
        "streaming.state_memory_bytes": (s["state_memory_bytes"], "bytes"),
        "lakehouse.merges": (s["merges"], "count"),
        "lakehouse.merge_s": (s["merge_s"], "s"),
        "lakehouse.files_written": (s["files_written"], "count"),
        "sink.bytes_written": (s["bytes_written"], "bytes"),
        "sink.write_amplification": (_ratio(s["bytes_written"], s["scan_bytes"]), "ratio"),
        "reuse.cold_minus_warm_s": (reuse, "s"),
        "ops.cold_pass_s": (run.passes[0]["wall"], "s"),
        "ops.warm_pass_s": (stats.median([p["wall"] for p in untraced]), "s"),
        "ops.p50_s": (stats.median(op_walls), "s"),
        "ops.tail_s": (op_tail, "s"),
        "ops.tail_pct": (op_pct, "%"),
        "ops.samples": (len(op_walls), "count"),
        "trace.overhead_share": (overhead, "ratio"),
    })
    return m
