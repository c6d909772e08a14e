#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], writes the
full record to bench_detail.json and prints ONE fixed-schema JSON line
(``bench_line``):

  {"metric":"...","value":N,"unit":"sec",...,"queries":{...},"sf1_probe":[...],...}

Each query is fully materialized through the noop sink (computes
everything, writes nothing) so timings measure engine work, not driver
collection. One shared SparkSession; a warm-up action first so JVM/
codegen startup isn't billed to the first query.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from flink_realtime_2024_spark import reclaim_checkpoints  # noqa: E402
from flink_realtime_2024_spark.plans.registry import all_queries  # noqa: E402
from flink_realtime_2024_spark.session import get_spark  # noqa: E402
from flink_realtime_2024_spark.sources.io import (  # noqa: E402
    drop_all_caches,
    enable_hot_cache,
    load_table,
    stage,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# --- session resurrection (r14 verdict #1) -------------------------------
# r13's official bench lost the simhash/b5 100× recall numbers AND the
# skew + streaming probes to ONE executor OOM: SparkUncaughtExceptionHandler
# stops the SparkContext, and every later py4j call died with "Cannot call
# methods on a stopped SparkContext". The py4j gateway JVM itself survives
# a context stop, so the bench can build a FRESH context in the same JVM
# and carry on — each probe step fetches its session through _live_spark(),
# which detects a dead context, tears down the python-side singletons, and
# rebuilds. Rebuild events are recorded in the output (a rebuild means a
# prior step crashed the JVM — evidence, not silence).
_ACTIVE: dict = {"spark": None, "rebuilds": []}


def _context_stopped(spark) -> bool:
    try:
        return spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return True


def _live_spark():
    spark = _ACTIVE.get("spark")
    if spark is not None and not _context_stopped(spark):
        return spark
    if spark is not None:
        # the package's memos live on the session object, so they die
        # with it: the rebuilt session starts empty
        try:
            spark.stop()  # python-side teardown of the stopped context
        except Exception:
            pass
        _ACTIVE["rebuilds"].append(time.strftime("%H:%M:%S"))
    s = get_spark(app_name="bench")
    s.sparkContext.setLogLevel("ERROR")
    _ACTIVE["spark"] = s
    return s


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    # headroom for the 100× probe tier: the default 8g driver JVM (this
    # is local mode — driver IS the executor) OOM'd under 60M-row
    # probes stacked on a full headline run; the machine has 128 GiB.
    os.environ.setdefault("SPARK_DRIVER_MEM", "16g")
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    _ACTIVE["spark"] = spark

    queries = {name: q for name, q in all_queries().items() if q.bench}

    # First-job JVM warmup (executor spin-up + codegen for the scan /
    # shuffle shapes) is ~3 s regardless of what the first job does —
    # bill it to its own line so table_staging_seconds measures staging
    # WORK (round-7: staging is content-addressed and shared across
    # processes, so the warm number must not be masked by JVM cost).
    t_warm = time.perf_counter()
    spark.range(1000).repartition(4).count()
    warm_nation = os.path.join("/root/testdata/sf0.001", "nation.parquet")
    if not os.path.exists(warm_nation):  # env without the tiny SF
        warm_nation = os.path.join(SF_DIR, "nation.parquet")
    warm_df = spark.read.parquet(warm_nation).cache()
    # cache round-trip absorbs InMemoryRelation codegen, not just the scan
    warm_df.count()
    warm_df.unpersist()
    jvm_warmup_s = round(time.perf_counter() - t_warm, 3)

    # Hot table layout: the fixtures are single-row-group files (1-task
    # scans); a production table is thousands of files. Stage each table
    # once as a repartitioned copy in a shared content-addressed tmp dir
    # (reused by every later bench/driver process — warm staging only
    # re-caches), and bill the staging separately.
    t_stage = time.perf_counter()
    enable_hot_cache(True)
    from concurrent.futures import ThreadPoolExecutor

    tables = (
        "lineitem orders customer supplier part nation region events documents embeddings"
    ).split()
    # stage concurrently: each table's 1-task scan+cache would otherwise
    # serialize; Spark schedules the independent jobs across the pool.
    # Per-table isolation: one unstageable table must not zero the whole
    # bench (round-2 post-mortem — an events scan error aborted the run
    # and the round recorded no number at all). A failed stage falls
    # back to cold scans for the queries that touch it.
    stage_errors: dict[str, str] = {}

    def _stage(t: str) -> None:
        try:
            load_table(spark, SF_DIR, t)
        except Exception as e:
            stage_errors[t] = f"{type(e).__name__}: {e}"[:200]

    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        list(pool.map(_stage, tables))
    # bucketed fact tables are one-time physical layout work (write-side
    # hash partitioning) — stage them here so the timed region measures
    # the bucketed JOIN, not the table build, and so the build's GC/disk
    # churn can't leak into other queries' timings (r4 drift post-mortem)
    try:
        from flink_realtime_2024_spark.plans.warehouse import ensure_bucketed_tables

        ensure_bucketed_tables(spark, SF_DIR)
    except Exception as e:
        stage_errors["bucketed_tables"] = f"{type(e).__name__}: {e}"[:200]
    staging_s = round(time.perf_counter() - t_stage, 3)

    # warm-up: run every headline plan once at the smallest SF so JVM
    # whole-stage-codegen compilation and Python-worker spawn aren't
    # billed to the timed run (steady-state throughput is the metric;
    # compiled plans are reused across invocations in production).
    warm_sf = "/root/testdata/sf0.001"
    for name in sorted(queries):
        try:
            materialize(queries[name].builder(spark, warm_sf))
        except Exception:
            pass

    # three timed runs per query, keep the min: single-shot numbers at
    # these sizes are dominated by JIT/GC noise, not engine work (run-
    # to-run spread was measured at ~25% with 2 reps); the min is the
    # steady-state cost a repeated production query pays.
    # STREAMING ids get min-of-5 (r9 verdict #2): a micro-batch job's
    # wall straddles ±0.7 s across runs (checkpoint fsync + trigger
    # alignment), which twice made the round-over-round headline delta
    # unreadable; more reps tighten the min where the jitter actually
    # lives, and the line bills the rep counts per class.
    # Per-query isolation: one red query records an error entry, the
    # rest of the round's numbers survive.
    BATCH_REPS, STREAM_REPS = 3, 5
    timings: dict[str, float] = {}
    query_errors: dict[str, str] = {}
    for name in sorted(queries):
        best = float("inf")
        n_reps = STREAM_REPS if name.startswith("stream_") else BATCH_REPS
        try:
            for rep in range(n_reps):
                t0 = time.perf_counter()
                materialize(queries[name].builder(spark, SF_DIR))
                best = min(best, time.perf_counter() - t0)
                # heavy queries (driver-synchronous iterative jobs like
                # BPE training) don't need 3 reps to beat JIT noise —
                # their wall time IS the signal; cap the bench's cost.
                # Only after TWO reps agree it's heavy (r14): a transient
                # host stall landing on rep 1 of a sub-second query used
                # to be recorded as its min — join_inner_hash once logged
                # 5.9 s from one stalled rep, 12× its steady state.
                if rep >= 1 and best > 5.0:
                    break
            timings[name] = round(best, 3)
        except Exception as e:
            query_errors[name] = f"{type(e).__name__}: {e}"[:200]
    total = round(sum(timings.values()), 3)
    # batch/streaming subtotals: the batch trend stays readable even
    # when a streaming id jitters.
    streaming_sec = round(
        sum(t for n, t in timings.items() if n.startswith("stream_")), 3
    )
    batch_sec = round(total - streaming_sec, 3)

    # the bench set grew across rounds (r1: 20 ids, r2+: 30) — totals
    # aren't comparable across rounds, so also report the sum over the
    # original r1 headline set for a like-for-like trend line
    r1_set = {
        "agg_hash_groupby", "agg_rollup", "analytics_region_volume",
        "cdc_latest_row", "flagship_revenue_by_nation", "join_asof_latest",
        "join_inner_hash", "join_interval", "llm_dedup_exact",
        "llm_dedup_minhash", "llm_knn_cosine", "llm_knn_ivf",
        "llm_text_stats", "llm_wordcount", "sql_pricing_summary",
        "udtf_tokenize_explode", "warehouse_order_wide", "window_session",
        "window_tumbling", "winfn_topn",
    }
    r1_subset = round(sum(t for n, t in timings.items() if n in r1_set), 3)

    # probes run over ALL registered builders (not just benched ones).
    # Reps: min-of-2 at 10× and 30× (a single cold run overstated the
    # minhash 30× ratio by ~60%), one at 100×, where each run is 10-100 s
    # of engine work, far above JIT noise. Each probe fetches a LIVE
    # session: a JVM death inside one probe costs that probe at most,
    # and the next one gets a fresh context. A probe is evidence, not a
    # gate: one that raises records its error and the bench goes on.
    builders = {n: q.builder for n, q in all_queries().items()}
    probes: dict[str, dict] = {}
    for key, run in (
        ("sf1_probe", lambda s: _scale_probe(
            s, builders, timings, _SF1_REPLICATION, _SF1_QUERIES, reps=2)),
        ("sf3_probe", lambda s: _scale_probe(
            s, builders, timings, _SF3_REPLICATION, _SF3_QUERIES, reps=2)),
        ("sf10_probe", lambda s: _scale_probe(
            s, builders, timings, _SF10_REPLICATION, _SF10_QUERIES, reps=1)),
        ("streaming_probe", _streaming_probe),
        ("skew_probe", _skew_probe),
    ):
        # SPARK_GRAFT_SKIP_{SF1,SF3,SF10,STREAMING,SKEW}_PROBE skips one
        if os.environ.get(f"SPARK_GRAFT_SKIP_{key.split('_')[0].upper()}_PROBE"):
            continue
        try:
            probes[key] = run(_live_spark())
        except Exception as e:
            probes[key] = {"error": f"{type(e).__name__}: {e}"[:200]}

    out = {
        "metric": "headline_queries_total_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(SF_DIR),
        "table_staging_seconds": staging_s,
        "jvm_warmup_seconds": jvm_warmup_s,
        "n_ok": len(timings),
        "n_err": len(query_errors),
        "r1_comparable_subset_sec": r1_subset,
        "batch_sec": batch_sec,
        "streaming_sec": streaming_sec,
        "batch_reps": BATCH_REPS,
        "streaming_reps": STREAM_REPS,
    }
    out.update(probes)
    if _ACTIVE["rebuilds"]:
        # a rebuild means a prior step crashed the JVM mid-bench — the
        # numbers after each timestamp come from a fresh context
        out["session_rebuilds"] = list(_ACTIVE["rebuilds"])
    deltas = _deltas_vs_previous(timings, _sf_from_dir(SF_DIR))
    if deltas:
        out["deltas"] = deltas
    if stage_errors:
        out["stage_errors"] = stage_errors
    if query_errors:
        out["query_errors"] = query_errors

    # Full-fidelity record → a file; stdout's LAST line is the
    # fixed-schema summary (bench_line), small enough for a reader that
    # keeps only the last 2 KB of stdout.
    detail_path = os.path.join(_HERE, "bench_detail.json")
    with open(detail_path, "w") as fh:
        json.dump(out, fh, indent=1)
    with open(detail_path, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:12]
    # per-round delta baseline: every run's timings go to a committed
    # history log, which _deltas_vs_previous reads first.
    with open(os.path.join(_HERE, "bench_history.jsonl"), "a") as fh:
        fh.write(json.dumps({
            "round": _bench_round(),
            "sf": out["sf"],
            "value": out["value"],
            "batch_sec": out["batch_sec"],
            "streaming_sec": out["streaming_sec"],
            # the digest ties the entry to its full-fidelity record
            "r1_comparable_subset_sec": out["r1_comparable_subset_sec"],
            "detail_sha256": digest,
            "queries": out["queries"],
        }) + "\n")
    print(bench_line(out, digest))


def _bench_round() -> int:
    """Round currently being built. Sources, most authoritative first
    (r10 advice: inferring from which BENCH_r{N}.json files exist is
    self-defeating — once the driver commits round N's record at round
    end, a same-round rerun would label itself N+1 and then pass the
    `rnd >= cur` self-comparison guard in _deltas_vs_previous):

    1. BENCH_ROUND env (explicit override),
    2. the `round` field of PROGRESS.jsonl's last line (the driver
       stamps it at round start and keeps it fixed all round),
    3. newest BENCH_r{N} + 1 (legacy fallback for a bare checkout)."""
    env = os.environ.get("BENCH_ROUND")
    if env:
        try:
            return int(env)
        except ValueError:
            # malformed override ('r12', stray whitespace) falls through
            # to the PROGRESS.jsonl inference like every other source
            # failure, instead of aborting the bench (r11 advice)
            pass
    try:
        with open(os.path.join(_HERE, "PROGRESS.jsonl")) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        if lines:
            rnd = json.loads(lines[-1]).get("round")
            # bool is an int subclass — reject it explicitly
            if isinstance(rnd, int) and not isinstance(rnd, bool) and rnd > 0:
                return rnd
    except (OSError, ValueError, AttributeError):
        # AttributeError: a last line that is valid JSON but not an
        # object (e.g. a bare number) must fall through to the legacy
        # inference, not abort the bench
        pass
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(_HERE, "BENCH_r*.json"))
        if (m := re.search(r"r(\d+)", os.path.basename(p)))
    ]
    return (max(rounds) + 1) if rounds else 1


def bench_line(out: dict, detail_digest: str) -> str:
    """The bench record's one-line summary. Its key set never changes:
    the totals, a session-rebuild count, the detail file's name and
    digest, ``queries`` (seconds per benched id, null for an id that
    raised), each probe tier as ``_tier_summary`` (null when skipped or
    raised) and the 100× banding recall ``sf10_recall`` as
    {minhash|simhash|simhash_b5: [recall_vs_bruteforce,
    recall_connected]}. Deltas, the skew and streaming probes, error
    texts and the 10×/30× recall live only in bench_detail.json. With
    37 ids the widest line is ~1.6 KB (tests/test_parity.py pins it)."""
    line = {
        k: out[k]
        for k in (
            "metric", "value", "unit", "sf", "n_ok", "n_err", "batch_sec",
            "streaming_sec", "batch_reps", "streaming_reps", "r1_comparable_subset_sec",
        )
    }
    ids = sorted({**out["queries"], **out.get("query_errors", {})})
    sf10 = (out.get("sf10_probe") or {}).get("queries", {})
    line.update(
        session_rebuilds=len(out.get("session_rebuilds", ())),
        detail="bench_detail.json",
        detail_sha256=detail_digest,
        queries={n: out["queries"].get(n) for n in ids},
        sf1_probe=_tier_summary(out.get("sf1_probe")),
        sf3_probe=_tier_summary(out.get("sf3_probe")),
        sf10_probe=_tier_summary(out.get("sf10_probe")),
        sf10_recall={
            n.replace("llm_dedup_", ""): [
                sf10.get(n, {}).get("recall_vs_bruteforce"),
                sf10.get(n, {}).get("recall_connected"),
            ]
            for n in _RECALL_IDS
        },
    )
    return json.dumps(line, separators=(",", ":"))


def _tier_summary(probe: dict | None) -> list | None:
    """[replication, n, total_sec, max_ratio, median_ratio] over the
    tier's timed ids, or None for a tier that was skipped or raised."""
    if not probe or "queries" not in probe:
        return None
    timed = [q for q in probe["queries"].values() if "sec" in q]
    ratios = sorted(q["ratio_vs_base"] for q in timed)
    return [
        probe["replication"],
        len(timed),
        round(sum(q["sec"] for q in timed), 1),
        ratios[-1] if ratios else None,
        ratios[len(ratios) // 2] if ratios else None,
    ]


_SF1_QUERIES = (
    # LLM showcases
    "llm_dedup_minhash",
    "llm_dedup_simhash",  # probed so banding recall is measured at scale
    "llm_dedup_simhash_b5",  # the cheap-banding knob — same recall truth
    "llm_knn_ivf_partitioned",
    "llm_decontaminate",
    "llm_fuzzy_pairs",
    "llm_wordcount",
    # core relational path: fact⋈fact+dims, hash agg, sessionization
    "warehouse_order_wide",
    "agg_hash_groupby",
    "join_inner_hash",
    "window_session",
    # CDC + changelog algebra (orders-derived) and span-level dedup
    "cdc_latest_row",
    "cdc_retract_aggregate",
    "llm_dedup_spans",
    # round-6 de-single-partitioned trio (distributed rank/prefix-sum)
    "analytics_rfm_segments",
    "analytics_pareto_abc",
    "llm_mix_schedule",
    # streaming path at 10× events: micro-batch overhead amortizes, so
    # wall is ~flat (measured ~1.2×) — the streaming-scale evidence
    "stream_agg_merge",
    "stream_dedup",
)
_SF1_REPLICATION = 10
_SF3_REPLICATION = 30
# sf3 set: the five LLM showcases + the relational core (the PLANS.md
# manual 30× record, now regenerated per-round instead of transcribed)
_SF3_QUERIES = (
    "llm_dedup_minhash",
    "llm_dedup_simhash",  # probed so banding recall is measured at scale
    "llm_dedup_simhash_b5",  # the cheap-banding knob — same recall truth
    "llm_knn_ivf_partitioned",
    "llm_decontaminate",
    "llm_fuzzy_pairs",
    "llm_wordcount",
    "warehouse_order_wide",
    "agg_hash_groupby",
    "join_inner_hash",
    "window_session",
    # the round-6 de-single-partitioned trio: the probe IS the evidence
    # that the distributed rank/prefix-sum forms scale (each was a
    # one-task window before)
    "analytics_rfm_segments",
    "analytics_pareto_abc",
    "llm_mix_schedule",
    # streaming serving path at 3M events (measured ~384k events/s)
    "stream_agg_merge",
    # stream_dedup BACK at 30× (round-7): the r6 'needs 8g driver' was
    # probe-cache stacking, not dedup state — each probe now drops its
    # hot caches on exit, and streaming state lives in RocksDB
    # (session.py); measured standalone: 3M-entry state in a 2 GiB JVM
    "stream_dedup",
    # NOT llm_dedup_prefix_filter: the replicated probe corpus has
    # ~n_replica² true near-dup pairs per original doc, so the EXACT
    # pair output itself is quadratic there — see its docstring.
)
_SF10_REPLICATION = 100
# 100× tier (r9 verdict #1): the ids with the largest measured 30×
# ratios (minhash 16.8, decontaminate 9.9, inner join 8.2, simhash 7.9,
# order_wide 7.1, hash agg 6.1, pareto 5.9) plus the mandated
# flagship + streaming serving path. 60M lineitem / 500k docs — a
# decade past the 30× point, so super-linear-in-work growth can't hide
# between the probe tiers. Dedup recall is measured on this corpus too
# (800-doc sampled brute-force truth, same as 10×/30×).
# Rotated per round (r11 verdict #5, r12 verdict #4): the r10–r12 sets
# (30 ids cumulative) are evidenced and cause-tagged in PLANS.md —
# each round rotates in ~10 never-probed-at-100× ids (r13 → ~40).
# The LSH trio stays every round: it carries the recall_connected
# contract for the mega-bucket segmentation (r11) and the banding-knob
# numbers. NOT llm_dedup_prefix_filter / llm_winnow_fingerprint: both
# emit EXACT near-dup pairs, and the replicated probe corpus has
# ~replication² true pairs per base doc, so their output is Ω(n²) BY
# CONTRACT there — the probe would time the pair volume, not the
# algorithm (same note as _SF3_QUERIES; coverage for their plan shape
# comes from the sf1-equivalent parity run instead).
_SF10_QUERIES = (
    "flagship_revenue_by_nation",
    "llm_dedup_minhash",
    "llm_dedup_simhash",
    "llm_dedup_simhash_b5",
    # --- r14 rotation: 11 never-probed-at-100× ids (cumulative ~51;
    # r13's set — pagerank, CEP, lake merge/time-travel, corpus
    # pipeline, int8 ANN, cohorts, rownum dedup — is evidenced and
    # cause-tagged in PLANS.md r13 §6).
    # NOT llm_neardup_cosine/llm_cosine_pairs/llm_semantic_dedup: the
    # probe corpus replicates embeddings VERBATIM (vectors are not
    # perturbed), so every base vector gains replication exact twins and
    # the true near-dup pair output is Ω(replication²) BY CONTRACT —
    # same exclusion class as llm_dedup_prefix_filter above.
    # NOT sql_recursive_cte: probed once (r13) and documented OUT — the
    # recursion operator re-evaluates the anchor per level and didn't
    # finish 15M orders in 50 min; its registered scale-safe twin is
    # probed below instead (r14 verdict #4 done-check).
    # NOT mm_decode_stats: one real codec decode per document is ~500k
    # sequential-per-row Python executions at this replication — the
    # probe would time the (already per-row-tested) codec loop, not a
    # plan shape.
    "sql_recursive_cte_iterative",  # the recursive-CTE twin: co-partitioned level walk
    "lake_snapshot_diff",        # snapshot-to-snapshot diff at 100× table volume
    "lake_point_lookup",         # rowkey point lookup against the lakehouse layout
    "warehouse_zorder_scan",     # z-order interleaved layout + min/max-pruned scan
    "warehouse_compaction",      # small-file compaction pass at 100× file volume
    "cdc_retract_aggregate",     # changelog retract algebra over 100× orders
    "join_asof_latest",          # as-of join at 100× orders
    "window_sliding",            # overlapping event-time windows over 10M events
    "udtf_tokenize_explode",     # UDTF explode over the 100× document corpus
    "llm_dedup_exact",           # content-hash groupBy dedup at 100× docs
    "stream_window_topn",        # streaming windowed top-n over 10M events
    "llm_knn_pq_seeded",         # seeded-codebook PQ ANN (new in r14): fused encode+ADC scan at 500k vectors
    # r14 oracle-flip evidence: the TRAINED ANN family at 100× — the
    # Lloyd trainers are bounded (4096-row sample) so only the fused
    # scan scales; kmeans is the Ω(rounds × corpus) fixpoint with a
    # DISK_ONLY training stage (19 s / 9.6 s idle at 200k vectors).
    "llm_knn_ivf",               # Lloyd-trained IVF: bounded training + probed fused scan
    "llm_kmeans_clusters",       # 8-round Lloyd fixpoint over the full corpus
)


def _stage_probe(prefix: str, params: tuple, build) -> str:
    """Stage a probe corpus derived from SF_DIR's tables with
    ``sources.io.stage``: content-addressed over every fixture file plus
    the probe parameters, so regenerating the fixture IN PLACE builds a
    new dir instead of silently reusing a stale corpus, and the stale
    sibling is pruned."""
    inputs = [
        os.path.join(SF_DIR, f) for f in sorted(os.listdir(SF_DIR)) if f.endswith(".parquet")
    ]
    return stage(f"{prefix}_{os.path.basename(SF_DIR.rstrip('/'))}", inputs, params, build)


def stage_replicated_corpus(spark, replication: int) -> tuple[str, float]:
    """Stage (or reuse, content-addressed) the replication× probe
    corpus and return (dir, staging_seconds). Factored out of
    _scale_probe (r12) so the sf1-equivalent PARITY run can stage the
    same corpus without dragging the probe/recall suite along:
    ``python -c "import bench; print(bench.stage_replicated_corpus(spark, 10)[0])"``
    then ``python driver_sim.py --sf <dir> <ids>``. Replicas perturb
    text/names (not just ids) so dedup-family workloads see realistic
    near-dup structure rather than N-way exact duplicate groups;
    foreign keys offset identically on both sides per replica, so every
    join stays valid and selectivities match the original."""
    import pyspark.sql.functions as F

    def build(probe_dir: str) -> None:
        key_off = 10_000_000

        def replicas(df, keys, perturb_col=None):
            # replica index via explode(sequence) — a NARROW op (no
            # join, no union): the r9 form unioned `replication`
            # DataFrames, whose plan depth made Catalyst analysis the
            # staging bottleneck at 100 replicas. Content is identical
            # (same key offsets, same " v{i}" perturbation strings).
            r = df.withColumn(
                "_rep", F.explode(F.sequence(F.lit(0), F.lit(replication - 1)))
            )
            for key in keys:
                # LONG multiply: an int32 _rep * key_off product wraps
                # silently past replication 214 under ansi=false (the
                # old union form computed offsets in Python ints)
                r = r.withColumn(
                    key,
                    F.col(key) + F.col("_rep").cast("long") * F.lit(key_off),
                )
            if perturb_col is not None:
                col = perturb_col
                r = r.withColumn(
                    col,
                    F.when(
                        F.col("_rep") > 0,
                        F.concat(col, F.lit(" v"), F.col("_rep").cast("string")),
                    ).otherwise(F.col(col)),
                )
            return r.drop("_rep")

        plan = {
            "documents": (["doc_id"], "text"),
            "embeddings": (["vec_id"], None),
            "part": (["p_partkey"], "p_name"),
            "lineitem": (["l_orderkey", "l_partkey"], None),
            "orders": (["o_orderkey", "o_custkey"], None),
            "customer": (["c_custkey"], None),
            "events": (["event_id", "user_id"], None),
        }
        for table, (keys, perturb_col) in plan.items():
            replicas(load_table(spark, SF_DIR, table), keys, perturb_col).write.mode(
                "overwrite"
            ).parquet(os.path.join(probe_dir, f"{table}.parquet"))
        # fixed-size dims stay 1x — at any SF nation/region don't grow
        for table in ("nation", "region", "supplier"):
            load_table(spark, SF_DIR, table).write.mode("overwrite").parquet(
                os.path.join(probe_dir, f"{table}.parquet")
            )

    t0 = time.perf_counter()
    probe_dir = _stage_probe(f"sfx{replication}_probe", (replication,), build)
    return probe_dir, round(time.perf_counter() - t0, 3)


def _scale_probe(
    spark,
    builders,
    timings: dict[str, float],
    replication: int,
    query_names,
    reps: int = 2,
) -> dict:
    """Scaling probe (replication× the base SF): replicate the scaling
    tables into a staged parquet dir (stage_replicated_corpus), then
    time each probe query at replication× data and report the wall-time
    ratio vs the base run. The 100 TB claims are argued from plan
    shape; this records the cheap hard datapoint that the shapes
    actually scale ~linearly on real 10×/30× input — two points, so
    super-linear blowup can't hide between them."""
    probe_dir, staging_s = stage_replicated_corpus(spark, replication)

    probe: dict[str, dict] = {}
    try:
        _isolate_tier(builders, query_names, probe_dir, probe)
        _probe_queries(builders, timings, query_names, probe_dir, probe, reps)
        try:
            _neardup_recall_at_scale(builders, probe_dir, replication, probe)
        except Exception as e:
            # shared-setup failure (sample collect, probe-corpus scan):
            # record it, keep the per-query timings already gathered
            probe["_recall_setup_error"] = {
                "error": f"{type(e).__name__}: {e}"[:200]
            }
    finally:
        # the replica tables stay on DISK (probe_dir is reused across
        # rounds); nothing cached may outlive the probe — stacking
        # 10×+30× hot caches was the r6 'stream_dedup needs 8g driver'
        # pressure, and the kernels' internal persists (LSH signature
        # stores) leaked until the 100× tier OOM'd the JVM (r10).
        # Hot base-table caches rebuild lazily; headline timings are
        # already recorded and probe reps are min-of-N.
        drop_all_caches(_live_spark())
    return {
        "replication": replication,
        "base_sf": _sf_from_dir(SF_DIR),
        "staging_seconds": staging_s,
        "queries": probe,
    }


_RECALL_IDS = ("llm_dedup_minhash", "llm_dedup_simhash", "llm_dedup_simhash_b5")


def _neardup_recall_at_scale(builders, probe_dir, replication, probe) -> None:
    """Banding recall measured ON THE REPLICATED PROBE CORPUS, not just
    the base fixture: minhash recall is pytest-pinned ≥ 0.9 at sf0.01,
    but banding recall is a function of corpus statistics, so the
    10×/30× corpora get their own check (r8 verdict #3). Truth is an
    exact brute-force scan over a SAMPLE — capped (~800 docs), sampled
    per base-doc so all of a document's perturbed replicas (the probe
    corpus's true near-dup structure) are in scope; the cap is
    recorded alongside the recall. Minhash truth = shingle-Jaccard ≥
    0.5 pairs; simhash truth = 64-bit hamming ≤ 3 pairs (where banding
    recall is pigeonhole-1.0 — a sub-1.0 value here means the
    degenerate-collision cap started binding at scale).

    CRASH ISOLATION (r14, verdict #1): at the 100× tier each id's
    recall compare runs in a SUBPROCESS with its own JVM — the compare
    re-runs the full LSH kernel and (for simhash) an exact
    fp-contracted connected-components pass, the one step that OOM'd
    the shared bench JVM in r13 and took the b5 recall plus the skew
    and streaming probes with it. A child OOM now costs exactly one
    recall_error entry; the parent session never sees it. Below 100×
    the compare stays in-process (years of clean runs; the
    session-resurrection guard backs it up)."""
    shared: dict = {}  # simhash truth, computed once per tier in-process
    for name in _RECALL_IDS:
        # per-metric error isolation (r9 advice): a failure in one
        # recall pass must degrade to an error entry on that probe id,
        # not abort the whole scale probe
        if name not in probe or "error" in probe[name]:
            continue
        reclaim_checkpoints(_live_spark())  # each recall re-runs a full dedup kernel
        try:
            if replication >= 100:
                probe[name].update(
                    _recall_in_subprocess(name, probe_dir, replication)
                )
            else:
                # metrics land in probe[name] INCREMENTALLY (r14
                # review): a failure mid-pass (e.g. in the exact
                # escalation) keeps the brute-force recall and the
                # connectivity lower bound already computed
                _recall_metrics(
                    _live_spark(), builders, probe_dir, replication,
                    name, probe[name], shared,
                )
        except Exception as e:
            probe[name]["recall_error"] = f"{type(e).__name__}: {e}"[:200]


def _recall_in_subprocess(name, probe_dir, replication, timeout_s=2700) -> dict:
    """Run one id's recall compare as ``python bench.py --recall ...``:
    own JVM (20 g — the compare stacks a kernel re-run, two wide joins
    and a CC fixpoint), bounded Arrow batches, result on the last
    RECALL_JSON stdout line. A dead/hung child raises (timeout or rc),
    which the caller records as that id's recall_error — nothing else
    in the bench is touched."""
    env = dict(os.environ)
    env["SPARK_DRIVER_MEM"] = env.get("SPARK_GRAFT_RECALL_MEM", "20g")
    proc = subprocess.run(
        [
            sys.executable, os.path.abspath(__file__), "--recall",
            name, probe_dir, str(replication),
        ],
        capture_output=True, text=True, timeout=timeout_s, env=env,
    )
    # the child prints RECALL_JSON even on failure, carrying whatever
    # metrics it computed before dying plus its own recall_error field
    # (r14 review: partial evidence must survive a failed escalation) —
    # so parse the line regardless of the return code; only a child
    # that produced NO line (hard JVM kill) raises here
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("RECALL_JSON:"):
            metrics = json.loads(line[len("RECALL_JSON:"):])
            metrics["recall_subprocess"] = True
            return metrics
    tail = (proc.stderr or proc.stdout or "").strip()[-250:]
    raise RuntimeError(f"recall child rc={proc.returncode}: {tail}")


def _recall_child(name: str, probe_dir: str, replication: int) -> None:
    """Child-process entry for _recall_in_subprocess. Applies the r13
    winnow memory idiom process-wide: small Arrow batches (the LSH
    kernel's unspillable per-task Arrow allocations were the
    GCLocker/heap pressure in the r13 OOM) on top of the DISK_ONLY
    staging inside _recall_metrics."""
    spark = get_spark(app_name="bench_recall_child")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    builders = {n: q.builder for n, q in all_queries().items()}
    metrics: dict = {}
    rc = 0
    try:
        _recall_metrics(spark, builders, probe_dir, replication, name, metrics)
    except Exception as e:
        # ship the partial metrics with the failure tagged — the parent
        # records both instead of losing the computed evidence
        metrics["recall_error"] = f"{type(e).__name__}: {e}"[:200]
        rc = 1
    print("\nRECALL_JSON:" + json.dumps(metrics), flush=True)
    if rc:
        sys.exit(rc)


def _recall_metrics(
    spark, builders, probe_dir, replication, name, out, shared=None
) -> None:
    """Compute the recall metrics for ONE LSH id into ``out`` (shared by
    the in-process small-tier path and the 100× subprocess). Metrics
    are written INCREMENTALLY as computed, so a failure partway (e.g.
    in the exact escalation) leaves the already-established evidence in
    place. ``shared`` caches the simhash hamming≤3 truth across the
    simhash/b5 ids within one tier (identical inputs)."""
    import numpy as np
    import pyspark.sql.functions as F

    from flink_realtime_2024_spark.operators._util import widen
    from flink_realtime_2024_spark.operators.llm import _shingle_hashes, simhash64

    key_off = 10_000_000
    base_k = max(800 // replication, 8)
    base_ids = [
        r["doc_id"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id").orderBy("doc_id").limit(base_k).collect()
    ]
    sample = [b + i * key_off for b in base_ids for i in range(replication)]

    docs = (
        load_table(spark, probe_dir, "documents")
        .filter(F.col("doc_id").isin(sample))
        .select("doc_id", "text")
    )
    rows = docs.collect()

    def found_pairs():
        """All emitted pairs TOUCHING the sample (either endpoint).
        Pair recall (found & truth) is unaffected — truth pairs are
        sample-only, so the intersection is identical under either
        filter; connectivity gains the wider set, so a true pair
        a–b routed through an out-of-sample chain member x (pairs a–x,
        x–b) counts as connected (r10 advice — the old both-endpoints
        filter made exactly the chain behavior this metric was added to
        measure invisible). Chains crossing ≥2 consecutive
        out-of-sample docs are still invisible, but the probe corpus
        samples whole replica families, so family-internal routing is
        fully covered and accidental routing is ≥1-hop visible."""
        got = (
            builders[name](spark, probe_dir)
            .filter(F.col("doc_a").isin(sample) | F.col("doc_b").isin(sample))
            .select("doc_a", "doc_b")
            .collect()
        )
        return {(min(r[0], r[1]), max(r[0], r[1])) for r in got}

    def connected_recall(found, truth):
        """Component-level recall LOWER BOUND: fraction of true pairs
        whose endpoints land in one connected component of the
        SAMPLE-FILTERED found graph. This is the metric the cap-degrade
        chain (r10) is designed for — inside a mega-family the operator
        deliberately emits O(n) chain pairs, so pair recall
        under-reports what downstream clustering recovers. It is a
        lower bound because `found` keeps only edges touching the
        sample: a path routed through ≥2 consecutive OUT-of-sample docs
        (fp-collision interlopers from unsampled families sorting into
        the chain between two sampled docs) is invisible here even
        though the full output connects the pair — r12's diagnosis of
        the r11 'b5 0.9435' number, which the exact fp-contracted
        check below re-measured as 1.0 at 100×. When this bound
        reads < 1, the simhash probes ESCALATE to the exact check."""
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in found:
            parent[find(a)] = find(b)
        if not truth:
            return None
        hit = sum(1 for a, b in truth if find(a) == find(b))
        return round(hit / len(truth), 4)

    if name == "llm_dedup_minhash":
        # --- minhash: truth = exact shingle-Jaccard >= 0.5 on the sample
        sets = {r["doc_id"]: set(_shingle_hashes(r["text"] or "")) for r in rows}
        ids = sorted(sets)
        sizes = {i: len(sets[i]) for i in ids}
        truth = set()
        for i, a in enumerate(ids):
            sa, na = sets[a], sizes[a]
            for b in ids[i + 1:]:
                nb = sizes[b]
                # |A∩B|/|A∪B| >= 0.5 needs min/max sizes >= 1/2 — skip
                # the (vast majority of) size-incompatible pairs cheaply
                if min(na, nb) * 2 < max(na, nb):
                    continue
                union = na + nb - len(sa & sets[b])
                if union and (na + nb - union) / union >= 0.5:
                    truth.add((a, b))
        out["recall_sample_docs"] = len(rows)
        out["recall_true_pairs"] = len(truth)
        found = found_pairs()
        out["recall_vs_bruteforce"] = (
            round(len(found & truth) / len(truth), 4) if truth else None
        )
        out["recall_connected"] = connected_recall(found, truth)
        return

    # --- simhash family: truth = exact hamming <= 3 on the sample
    # (cached across simhash/simhash_b5 within a tier — identical input)
    if shared is None:
        shared = {}
    if "simhash_truth" not in shared:
        fps = widen(docs).select("doc_id", simhash64("text").alias("fp")).collect()
        fids = np.array([r["doc_id"] for r in fps], dtype=np.int64)
        vals = np.array([r["fp"] for r in fps], dtype=np.int64).astype(np.uint64)
        x = vals[:, None] ^ vals[None, :]
        ham = np.zeros(x.shape, dtype=np.int64)
        for _ in range(64):
            ham += (x & 1).astype(np.int64)
            x >>= np.uint64(1)
        ii, jj = np.nonzero(np.triu(ham <= 3, k=1))
        truth = {
            (min(int(fids[i]), int(fids[j])), max(int(fids[i]), int(fids[j])))
            for i, j in zip(ii, jj)
        }
        fp_of = {int(r["doc_id"]): int(r["fp"]) for r in fps}
        shared["simhash_truth"] = (len(fps), truth, fp_of)
    n_fps, truth, fp_of = shared["simhash_truth"]

    out["recall_sample_docs"] = n_fps
    out["recall_true_pairs"] = len(truth)
    found = found_pairs()
    out["recall_vs_bruteforce"] = (
        round(len(found & truth) / len(truth), 4) if truth else None
    )
    bound = connected_recall(found, truth)
    out["recall_connected"] = bound
    if bound is not None and bound < 1.0:
        # the cheap number is only a LOWER BOUND (see connected_recall)
        # — escalate to the exact fp-contracted component check before
        # reporting a sub-1.0 connectivity figure
        out["recall_connected_sample_lower_bound"] = bound
        out["recall_connected"] = _exact_connected_recall(
            spark, builders, probe_dir, name, truth, fp_of
        )
        out["recall_connected_exact"] = True


def _exact_connected_recall(spark, builders, probe_dir, name, truth, fp_of):
    """EXACT component recall via FP CONTRACTION (r12): same-fp
    docs are provably in one output component — equal fp ⇒ all
    bucket keys equal ⇒ every bucket shared; an under-cap bucket
    emits their hamming-0 pair directly, an oversized one connects
    the (bucket, fp) group through consecutive same-fp chain links
    plus the family stitch (both hamming-0, always verified —
    pinned by test_lsh_mega_bucket_segmentation_bounds_partitions
    _and_pairs, which asserts a 600-replica same-fp family is ONE
    component). So contracting nodes by fp preserves components
    exactly, and the contracted edge set (~6.5M at 100× vs 122M
    raw pairs) fits the distributed CC where the raw set OOM'd.
    Costs a kernel re-run + CC (~5 min at 100×), hence the lazy
    escalation.

    Memory discipline (r14, verdict #1 — this is the step whose
    executor OOM killed the r13 bench JVM): the fingerprint frame
    persists DISK_ONLY (the default level deserializes whole
    partitions into heap arrays), and the contracted edge set is
    STAGED THROUGH PARQUET — the kernel + two wide joins + distinct
    run as their own job with their own memory, and the CC fixpoint
    starts from a clean disk scan instead of stacking its shuffle
    state on top of theirs."""
    import pyspark.sql.functions as F
    from pyspark import StorageLevel

    from flink_realtime_2024_spark import connected_components
    from flink_realtime_2024_spark.operators._util import widen
    from flink_realtime_2024_spark.operators.llm import simhash64

    full = load_table(spark, probe_dir, "documents").select("doc_id", "text")
    fps_full = widen(full).select(
        "doc_id", simhash64("text").alias("fp")
    ).persist(StorageLevel.DISK_ONLY)
    stage = tempfile.mkdtemp(prefix="bench_recall_edges_")
    try:
        (
            builders[name](spark, probe_dir)
            .select("doc_a", "doc_b")
            .join(fps_full.select(F.col("doc_id").alias("doc_a"),
                                  F.col("fp").alias("fp_a")), "doc_a")
            .join(fps_full.select(F.col("doc_id").alias("doc_b"),
                                  F.col("fp").alias("fp_b")), "doc_b")
            .select("fp_a", "fp_b")
            .filter(F.col("fp_a") != F.col("fp_b"))
            .distinct()
            .write.mode("overwrite").parquet(stage)
        )
        comp = connected_components(
            spark.read.parquet(stage), "fp_a", "fp_b"
        )
        # only the sampled docs' fingerprints are ever looked up —
        # filter BEFORE collect (r12 review: the unfiltered
        # component map is millions of rows at 100×, pulled into
        # the same local heap whose OOMs this path exists to avoid)
        wanted = list({int(v) for v in fp_of.values()})
        cid = {
            r["doc_id"]: r["cluster_id"]
            for r in comp.filter(F.col("doc_id").isin(wanted)).collect()
        }
    finally:
        fps_full.unpersist()
        shutil.rmtree(stage, ignore_errors=True)

    def c(d):
        f = fp_of[d]
        return cid.get(f, ("solo", f))

    hit = sum(1 for a, b in truth if fp_of[a] == fp_of[b] or c(a) == c(b))
    return round(hit / len(truth), 4) if truth else None


def _isolate_tier(builders, query_names, probe_dir, probe) -> None:
    """Tier-isolation barrier (r12 verdict #3): the first timed id of a
    probe tier used to absorb the PREDECESSOR tier's session pressure —
    r12's flagship read 204× in-tier vs ~13× standalone purely because
    it ran first after the 30× tier's LSH work (heap churn, dead
    checkpoint blocks, page-cache eviction). Before any timing: drop
    live caches, reclaim dead checkpoint blocks, then run the tier's
    FIRST id once UN-TIMED on the probe corpus. The discard run is
    recorded (it is a useful post-barrier cold datapoint); the timed
    reps that follow measure the query, not the predecessor tier."""
    first = next((n for n in query_names if n in builders), None)
    if first is None:
        return
    spark = _live_spark()
    drop_all_caches(spark)
    reclaim_checkpoints(spark)
    t0 = time.perf_counter()
    try:
        materialize(builders[first](spark, probe_dir))
        probe["_tier_isolation"] = {
            "warmup_id": first,
            "warmup_sec": round(time.perf_counter() - t0, 3),
        }
    except Exception as e:
        # the timed loop will record the real failure for this id
        probe["_tier_isolation"] = {
            "warmup_id": first,
            "error": f"{type(e).__name__}: {e}"[:200],
        }


def _probe_queries(builders, timings, query_names, probe_dir, probe, reps):
    for name in query_names:
        if name not in builders:
            continue
        # fetch a LIVE session per query (r14): a JVM death under one
        # probe id costs that id an error entry; the next id (and the
        # recall passes after) run on a fresh context
        spark = _live_spark()
        reclaim_checkpoints(spark)
        try:
            base = timings.get(name)
            if not base:
                # non-headline probe id (e.g. the de-single-partitioned
                # trio): measure its own 1× base so the ratio — the
                # entire point of the probe — is still recorded (kept
                # LOCAL: the headline queries/total must not grow).
                # Same min-of-reps loop as the scaled side — a single
                # cold base systematically overstated ratio_vs_base by
                # the cold-start cost (r6 advice item).
                b = float("inf")
                for _ in range(reps):
                    t0 = time.perf_counter()
                    materialize(builders[name](spark, SF_DIR))
                    b = min(b, time.perf_counter() - t0)
                base = round(b, 3)
            best = float("inf")
            for _ in range(reps):
                t0 = time.perf_counter()
                materialize(builders[name](spark, probe_dir))
                best = min(best, time.perf_counter() - t0)
            entry = {"sec": round(best, 3), "base_sec": base}
            entry["ratio_vs_base"] = round(best / base, 2)
            probe[name] = entry
        except Exception as e:
            probe[name] = {"error": f"{type(e).__name__}: {e}"[:200]}


_STREAMING_PROBE_IDS = (
    "stream_source_smoke",  # source → agg → sink (the layer hop)
    "stream_dedup",         # keyed dedup in watermark (stateful)
    "stream_agg_merge",     # partial-agg merge sink (serving path)
)


def _streaming_probe(spark) -> dict:
    """Realtime-path throughput: run representative streaming jobs
    (real readStream micro-batches, watermarks, checkpoints, sinks)
    end to end over the full events feed and report events/second.
    The reference is a Flink streaming warehouse — batch query timings
    alone don't evidence the streaming claim; this block does. Wall
    time includes every micro-batch, checkpoint I/O, and final-state
    readback; min-of-2 like the batch queries — the first run also
    pays one-time topic staging, which is layout work, not streaming
    throughput (r6: a cold stream_dedup read 2× slow purely from
    staging)."""
    from flink_realtime_2024_spark.observability import stream_progress

    n_events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).count()
    qs = all_queries()
    probe: dict[str, dict] = {}
    for name in _STREAMING_PROBE_IDS:
        if name not in qs:
            continue
        try:
            wall = float("inf")
            for _ in range(2):
                with stream_progress(spark) as progress:
                    t0 = time.perf_counter()
                    materialize(qs[name].builder(spark, SF_DIR))
                    wall = min(wall, time.perf_counter() - t0)
            # what bounds the events/s: source replay (latestOffset/
            # getBatch), engine work (addBatch) or checkpoint I/O
            # (walCommit/commitOffsets)? durationMs summed over every
            # micro-batch of every query the second (warm) run started.
            stages: dict[str, int] = {}
            for p in progress:
                for k, v in p.durationMs.items():
                    stages[k] = stages.get(k, 0) + int(v)
            probe[name] = {
                "wall_sec": round(wall, 3),
                "events_per_sec": int(n_events / wall),
                "micro_batches": len(progress),
                "duration_ms": dict(sorted(stages.items(), key=lambda kv: -kv[1])),
            }
        except Exception as e:
            probe[name] = {"error": f"{type(e).__name__}: {e}"[:200]}
    return {"n_events": n_events, "queries": probe}


def _skew_probe(spark) -> dict:
    """Hot-key join probe (r7 verdict task #4): both replication probes
    are uniform, so join_skew_salted's reason to exist — a key owning a
    large share of the rows — was never exercised at scale. This stages
    a 10× lineitem where ONE orderkey owns ~30% of all rows, then times
    the plain shuffled join vs the manual salted join on the SAME
    corpus and checks they aggregate to identical results.

    Four timings, because AQE and the salting FORM both matter:
    - plain_skew_handled: AQE's skew-join splitting ON (what a stock
      Spark 3.x+ deployment gets for free on an SMJ);
    - plain_unhandled: skew splitting OFF — the case salting exists
      for (non-AQE engines, or plans where AQE can't split, e.g. the
      join feeding a co-partitioned aggregate);
    - salted_blanket: salted_join(n_salts=16), whole right side
      replicated — measured to show WHY that form doesn't pay:
      O(n_salts × |right|) replication swamps the straggler win;
    - salted_targeted: salted_join_targeted — only the detected hot
      keys salted/replicated; this is the form that must beat
      plain_unhandled.
    Broadcast is disabled throughout (the 10× orders side would
    otherwise broadcast at toy scale and no shuffle join would exist
    to measure). Oracle equality of plain vs targeted-salted output is
    part of the block."""
    import pyspark.sql.functions as F

    from flink_realtime_2024_spark.operators.joins import (
        detect_hot_keys,
        salted_join,
        salted_join_targeted,
    )

    replication, hot_fraction_target = 10, 0.3
    key_off = 10_000_000

    def build(probe_dir: str) -> None:
        li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
        orders = load_table(spark, SF_DIR, "orders").select(
            "o_orderkey", "o_orderstatus"
        )
        hot = orders.agg(F.min("o_orderkey")).first()[0]

        def replicas(df, key):
            parts = [
                df.withColumn(key, F.col(key) + F.lit(i * key_off))
                for i in range(replication)
            ]
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            return u

        # deterministic ~30% of the replicated fact rows collapse onto
        # the single hot key (which exists in replica 0 of orders)
        li_skew = replicas(li, "l_orderkey").withColumn(
            "l_orderkey",
            F.when(
                F.abs(F.xxhash64("l_orderkey", "l_quantity")) % 100
                < int(hot_fraction_target * 100),
                F.lit(hot),
            ).otherwise(F.col("l_orderkey")),
        )
        li_skew.write.mode("overwrite").parquet(
            os.path.join(probe_dir, "lineitem_skew.parquet")
        )
        replicas(orders, "o_orderkey").write.mode("overwrite").parquet(
            os.path.join(probe_dir, "orders.parquet")
        )

    t0 = time.perf_counter()
    probe_dir = _stage_probe("skew_probe", (replication, hot_fraction_target), build)
    staging_s = round(time.perf_counter() - t0, 3)

    li = spark.read.parquet(os.path.join(probe_dir, "lineitem_skew.parquet"))
    orders = spark.read.parquet(os.path.join(probe_dir, "orders.parquet"))
    n_rows = li.count()
    top = (
        li.groupBy("l_orderkey").count().orderBy(F.desc("count")).first()
    )
    hot_fraction = round(top["count"] / n_rows, 3)

    def agg(joined):
        return joined.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("sum_qty"),
        )

    def plain():
        return agg(li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")))

    def salted_blanket():
        return agg(salted_join(li, orders, "l_orderkey", "o_orderkey", n_salts=16))

    # hot-key detection is part of the pattern but a one-time pre-pass
    # (in production: cached / from last run's stats) — detect once,
    # outside the timed loop, and record what was found
    hot_keys = detect_hot_keys(li, "l_orderkey")

    def salted_targeted():
        return agg(
            salted_join_targeted(
                li, orders, "l_orderkey", "o_orderkey", n_salts=16, hot_keys=hot_keys
            )
        )

    conf = spark.conf
    prev = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
        )
    }
    out: dict = {
        "replication": replication,
        "n_fact_rows": n_rows,
        "hot_key_fraction": hot_fraction,
        "staging_seconds": staging_s,
        "n_salts": 16,
        "n_hot_keys_detected": len(hot_keys),
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        for label, builder, skew_handling in (
            ("plain_skew_handled_sec", plain, "true"),
            ("plain_unhandled_sec", plain, "false"),
            ("salted_blanket_sec", salted_blanket, "false"),
            ("salted_targeted_sec", salted_targeted, "false"),
        ):
            conf.set("spark.sql.adaptive.skewJoin.enabled", skew_handling)
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                materialize(builder())
                best = min(best, time.perf_counter() - t0)
            out[label] = round(best, 3)
        # oracle equality: salting must be invisible in the result
        plain_rows = sorted(
            (r["o_orderstatus"], r["n_lines"], round(r["sum_qty"], 4))
            for r in plain().collect()
        )
        salted_rows = sorted(
            (r["o_orderstatus"], r["n_lines"], round(r["sum_qty"], 4))
            for r in salted_targeted().collect()
        )
        out["salted_equals_plain"] = plain_rows == salted_rows
        if out.get("salted_targeted_sec"):
            out["speedup_vs_unhandled"] = round(
                out["plain_unhandled_sec"] / out["salted_targeted_sec"], 2
            )
            out["speedup_vs_aqe"] = round(
                out["plain_skew_handled_sec"] / out["salted_targeted_sec"], 2
            )
    finally:
        for k, v in prev.items():
            if v is not None:
                conf.set(k, v)
            else:
                # the key was unset before the probe: unset it again so
                # the probe's -1 overrides can't leak into later work
                try:
                    conf.unset(k)
                except Exception:
                    pass
    return out


def _deltas_vs_previous(
    timings: dict[str, float], sf: float, here: str | None = None
) -> dict | None:
    """Self-reported regression diff: per-query delta (sec, this run
    minus the PREVIOUS ROUND's last same-SF record), so round N+1
    regressions surface in the bench output itself rather than needing
    an external diff. Baseline search order:
    1. bench_history.jsonl — the last entry from an earlier round
       (every run appends; the round-end commit persists them);
       entries carrying a `quarantined` field are never baselined
       (they record known-contaminated runs, r11 verdict);
    2. archived BENCH_r*.json whose compact line still carried per-query
       timings (rounds ≤ 9 — the driver wraps the line under "parsed").
    Highest round wins; within a round, the latest entry (the round's
    final tree). ``here`` overrides the history directory (tests)."""
    here = here or _HERE
    cur = _bench_round()
    best: tuple[int, int, str, dict] | None = None  # (round, seq, label, queries)

    hist_path = os.path.join(here, "bench_history.jsonl")
    if os.path.exists(hist_path):
        with open(hist_path) as f:
            for seq, line in enumerate(f):
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                if e.get("sf") != sf or not e.get("queries"):
                    continue
                if e.get("quarantined"):
                    # entry recorded under known contamination (e.g. a
                    # concurrent parity job saturating the box, r11's
                    # 45.273 s record) — keep it append-only for the
                    # audit trail, never baseline deltas against it
                    continue
                rnd = e.get("round", 0)
                if rnd >= cur:
                    continue  # same-round self-comparison isn't a trend
                cand = (rnd, seq, f"r{rnd} (bench_history)", e["queries"])
                if best is None or cand[:2] > best[:2]:
                    best = cand

    def _round_no(p: str):
        m = re.search(r"r(\d+)", os.path.basename(p))
        return int(m.group(1)) if m else None

    for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
        rnd = _round_no(path)
        if rnd is None or (best is not None and rnd <= best[0]):
            continue
        try:
            with open(path) as f:
                prev = json.load(f)
            if isinstance(prev.get("parsed"), dict):
                prev = prev["parsed"]
            if prev.get("sf") != sf or not prev.get("queries"):
                continue  # e.g. the crashed r2 recording, or post-r9 lines
            best = (rnd, -1, os.path.basename(path), prev["queries"])
        except Exception:
            continue

    if best is None:
        return None
    _, _, label, prev_q = best
    return {
        "vs": label,
        "queries": {
            n: round(t - prev_q[n], 3) for n, t in timings.items() if n in prev_q
        },
        "new_queries": sorted(n for n in timings if n not in prev_q),
    }


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "--recall":
        # strict arity: a malformed recall invocation must error loudly,
        # not silently fall through into a multi-hour full bench run
        if len(sys.argv) != 5:
            raise SystemExit(
                "usage: bench.py --recall <id> <probe_dir> <replication>"
            )
        _recall_child(sys.argv[2], sys.argv[3], int(sys.argv[4]))
    else:
        main()
