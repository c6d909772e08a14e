"""Batch sources & sinks: parquet / CSV / JSON.

Reference surface: Flink filesystem connector + csv/json formats
(pom.xml:132-137, 60-65, 53-58) and the Doris sink for serving tables
(realtime-common/pom.xml:50-53). Spark-first mapping: ``spark.read`` /
``DataFrameWriter`` — Catalyst pushes predicates and prunes columns into
the parquet scan for free (verify with ``.explain``: ``PushedFilters``,
``ReadSchema``).

Scale notes:
- Scans stay fully distributed; nothing here collects to the driver.
- ``load_table`` applies the *declared* schema (schemas.py) — no
  inference pass over 100 TB.
- Sinks partition by a column when given (partition pruning on read).

Derived state has exactly two owners here. ``stage`` holds every
immutable layout derived from fixture files (hot copies, bucketed and
z-ordered tables, stream topics, the IVF index, bench probe corpora);
``memo`` holds every per-session derived value (hot-table DataFrames,
kNN query sets and quantizers, BPE merges, the no-AQE clone). Both are
keyed on CONTENT — every input file's relpath, size and mtime_ns plus
the knobs that shape the result — so a fixture regenerated in place at
the same path misses by construction. Every other directory the package
writes (sink outputs, lake tables, stream checkpoints) comes from
``workspace``, which removes it at interpreter exit.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from .. import schemas
from ..session import assert_environment, prepare

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Hot-table cache (bench mode): fixture files are single-row-group
# parquet, so a raw scan is a single task no matter the cluster size. A
# production 100 TB table is thousands of files/buckets and parallelizes
# by itself; locally we emulate that layout with a repartitioned copy,
# staged once per fixture content and parallelism and shared by every
# later process, whose scan is memoized per session — warm bench staging
# costs only the re-cache of already-well-partitioned parquet.
_HOT_ENABLED = False
_HOT_STAGE_ROOT = os.path.join(tempfile.gettempdir(), "spark_graft_hotstage")

# Only the scan-dominant fact tables earn an in-memory cache; the rest
# read straight from the staged well-partitioned copy (a few-ms
# page-cached scan) — each cache+count is a full Spark job, and ten of
# them were most of the warm staging wall.
_HOT_MEMORY_TABLES = {"lineitem", "orders", "customer", "part", "events"}


def enable_hot_cache(enabled: bool = True) -> None:
    global _HOT_ENABLED
    _HOT_ENABLED = enabled


# serializes stage WRITES within this process: two threads staging the
# same destination concurrently could otherwise both pass the isdir
# check and build twice (cross-process writers are safe — unique tmp
# names + atomic rename). Locks are PER destination path so cold
# staging of different layouts stays parallel (bench.py stages tables
# from a thread pool); only the tiny dict itself is behind one lock.
_STAGE_LOCKS: dict[str, threading.Lock] = {}
_STAGE_LOCKS_GUARD = threading.Lock()

# Bumped whenever staged layouts depend on code, not just fixture bytes
# (the hot copy bakes in events_ts_to_timestamp and schemas.TABLES), so
# a code change misses every old digest instead of reusing a stale one.
_STAGE_FORMAT_VERSION = "v2"


def stage_lock(dest: str) -> threading.Lock:
    """The per-destination staging lock (created on first use)."""
    with _STAGE_LOCKS_GUARD:
        lock = _STAGE_LOCKS.get(dest)
        if lock is None:
            lock = _STAGE_LOCKS[dest] = threading.Lock()
        return lock


def content_digest(inputs, *params) -> str:
    """16-hex digest of the input paths' contents plus ``params``. A
    directory folds in every file below it RECURSIVELY (a part file
    rewritten inside a Hive-partitioned subdir need not change any
    directory's own stat), each as relpath/size/mtime_ns."""
    import hashlib

    parts: list = []
    for p in inputs:
        p = os.path.normpath(p)
        parts.append(p)
        if not os.path.isdir(p):
            st = os.stat(p)
            parts += [st.st_size, st.st_mtime_ns]
            continue
        for root, dirs, files in os.walk(p):
            dirs.sort()
            for f in sorted(files):
                fp = os.path.join(root, f)
                st = os.stat(fp)
                parts += [os.path.relpath(fp, p), st.st_size, st.st_mtime_ns]
    parts += params
    return hashlib.sha1("|".join(str(p) for p in parts).encode()).hexdigest()[:16]


def _prune_stale(stem: str, keep: str) -> None:
    """Best-effort removal of ``stem``'s layouts with another digest
    (fixtures were regenerated / knobs changed) so /tmp growth is bounded
    by one live copy per layout. Orphaned ``.tmp.`` dirs from a crashed
    writer are reaped once they are over an hour old (a LIVE writer's tmp
    dir is minutes old at most). Only exact ``<stem>_<digest>`` names
    match, so a longer name sharing the prefix is never touched."""
    import re
    import time

    own = re.compile(re.escape(os.path.basename(stem)) + r"_[0-9a-f]{16}(\.tmp\..+)?")
    root = os.path.dirname(stem)
    try:
        now = time.time()
        for d in os.listdir(root):
            if d == keep or not own.fullmatch(d):
                continue
            path = os.path.join(root, d)
            if ".tmp." in d:
                try:
                    if now - os.path.getmtime(path) < 3600:
                        continue
                except OSError:
                    continue
            shutil.rmtree(path, ignore_errors=True)
    except OSError:
        pass


def stage(name: str, inputs, params, build) -> str:
    """Return the directory holding the layout ``build`` derives from
    the ``inputs`` paths, building it only if no process has yet.

    The path is ``$TMPDIR/<name>_<digest>``, ``digest`` being the
    inputs' ``content_digest`` plus ``params``. ``build(tmp)`` writes
    into a fresh private ``tmp`` path (it creates it; Spark writers do)
    under the per-destination lock, and ``os.rename`` publishes it —
    atomic on POSIX, so readers only ever see complete layouts, a lost
    cross-process race just discards the loser's copy, and a published
    layout is never written again. Same-name siblings with another
    digest are pruned, so a regenerated fixture leaves one live copy;
    ``name`` must therefore tell apart inputs that are live at the same
    time (callers put the sf dir's basename in it)."""
    import uuid

    stem = os.path.join(tempfile.gettempdir(), name)
    dst = f"{stem}_{content_digest(inputs, *params, _STAGE_FORMAT_VERSION)}"
    if os.path.isdir(dst):
        return dst
    with stage_lock(dst):
        if os.path.isdir(dst):  # built by the thread we waited on
            return dst
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = f"{dst}.tmp.{os.getpid()}_{uuid.uuid4().hex[:8]}"
        try:
            build(tmp)
            os.rename(tmp, dst)
        except OSError:
            if not os.path.isdir(dst):
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)  # failed build or lost race
        _prune_stale(stem, os.path.basename(dst))
    return dst


# Memo entries live on the SparkSession object itself (the
# _ENV_CHECKED_ATTR idiom): they die with the session, and a rebuilt
# session starts empty whatever Python id it is given.
_MEMO_ATTR = "_flink_rt_memo"
_MEMO_GUARD = threading.Lock()
_UNBUILT = object()


def memo(spark: SparkSession, kind: str, key, build):
    """Session-scoped memo: ``build()`` runs once per ``(kind, key)`` on
    this session, and every later call returns its value. ``key`` must
    cover everything the value depends on — a ``content_digest`` of the
    inputs and the knobs. Concurrent callers of one key wait for the
    single build; a build that raises leaves the entry unbuilt."""
    with _MEMO_GUARD:
        store = getattr(spark, _MEMO_ATTR, None)
        if store is None:
            store = {}
            setattr(spark, _MEMO_ATTR, store)
        slot = store.setdefault((kind, key), [threading.Lock(), _UNBUILT])
    with slot[0]:
        if slot[1] is _UNBUILT:
            slot[1] = build()
        return slot[1]


def forget(spark: SparkSession, kind: str) -> None:
    """Drop every ``kind`` entry from this session's memo and from the
    memos of the sessions it holds (the no-AQE planning clone)."""
    with _MEMO_GUARD:
        store = getattr(spark, _MEMO_ATTR, {})
        for k in [k for k in store if k[0] == kind]:
            del store[k]
        held = [v for _, v in store.values() if isinstance(v, SparkSession)]
    for s in held:
        forget(s, kind)


# Every dir workspace() has handed out; removed at interpreter exit, so
# long pytest/bench/driver processes leave no per-run dirs behind.
_WORKSPACES: list[str] = []
atexit.register(lambda: [shutil.rmtree(d, ignore_errors=True) for d in _WORKSPACES])


def workspace(prefix: str) -> str:
    """A fresh private ``$TMPDIR/<prefix>*`` directory for a sink output,
    a table or a checkpoint, removed at interpreter exit. The only way
    package code gets a scratch or output dir; layouts derived from
    fixture files go through ``stage`` instead."""
    path = tempfile.mkdtemp(prefix=prefix)
    _WORKSPACES.append(path)
    return path


def stage_ordered_topic(name: str, inputs, frame, n_files: int, order_col: str) -> str:
    """Stage ``frame()`` as a stream 'topic' of ``n_files`` consecutive
    ``order_col`` ranges, one file each, with modification times
    ascending in ``order_col`` order: FileStreamSource picks the oldest
    files first, so under maxFilesPerTrigger=1 file k replays as
    micro-batch k — an in-order topic replay."""

    def build(tmp: str) -> None:
        import pyarrow.parquet as pq

        frame().repartitionByRange(n_files, order_col).sortWithinPartitions(
            order_col
        ).write.parquet(tmp)
        files = [os.path.join(tmp, f) for f in os.listdir(tmp) if f.endswith(".parquet")]
        files.sort(key=lambda p: pq.read_table(p, columns=[order_col])[order_col][0].as_py())
        base = int(os.path.getmtime(files[0]))
        for i, p in enumerate(files):
            os.utime(p, (base + i, base + i))

    return stage(name, inputs, (n_files, order_col), build)


def drop_all_caches(spark) -> None:
    """Clear EVERY cached/persisted dataset and forget the session's
    hot-table DataFrames (re-cached lazily on next load_table). For
    long-lived measurement sessions: kernel-internal persists (the LSH
    signature stores, exploded key frames) have no owner to unpersist
    them, and across a full bench run — 37 headline queries × reps plus
    four probe tiers up to 100× — the leaked blocks squeezed execution
    memory until the 100× probe OOM'd an 8 GiB driver JVM (r10)."""
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    forget(spark, "hot")


def reclaim_checkpoints(spark) -> None:
    """Free DEAD localCheckpoint blocks NOW instead of at an arbitrary
    future GC (companion to ``drop_all_caches``, which clears LIVE
    caches). The dedup kernels (minhash_pairs, simhash_pairs, ...)
    materialize their result via eager DISK_ONLY localCheckpoint; Spark's
    ContextCleaner frees those blocks only after the driver-side
    DataFrame reference is garbage-collected, so a consumer LOOPING a
    kernel accumulates dead blocks in the block manager's local dirs —
    the exact pressure that OOM'd the r11 bench's shared heap at the
    100× tier before its runner grew this call. Python ``gc.collect()``
    drops the py4j references; ``System.gc()`` makes the cleaner's weak
    references fire immediately instead of mid-job. Call it between
    kernel invocations in long-lived sessions; it is safe (a no-op) any
    time."""
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def events_ts_to_timestamp(df: DataFrame) -> DataFrame:
    """Normalize the ``events.ts`` column to TimestampType (µs, UTC).

    The fixture file's physical type has varied across environments, and
    PySpark's scan of it varies by version (Spark 4.1 dropped
    ``spark.sql.legacy.parquet.nanosAsLong`` — it sets without error but
    is ignored). Branch on what the scan actually produced:

    - ``LongType``     — epoch *nanos* (legacy nanosAsLong path): integer
      division truncates ns→µs exactly like DuckDB, so oracles agree.
    - ``TimestampNTZType`` — Spark 4.x scan of a no-timezone µs column:
      cast to TimestampType; with the UTC session timezone the instants
      (and the hash the oracles matched in r1) are identical.
    - ``TimestampType`` — already what the engine schema declares.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if isinstance(dt, T.TimestampType):
        return df
    raise TypeError(
        f"events.ts scanned as unsupported type {dt}; expected LongType "
        "(epoch-nanos), TimestampNTZType, or TimestampType"
    )


def _scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = table_path(sf_dir, name)
    if name == "events":
        return events_ts_to_timestamp(spark.read.parquet(path))
    return spark.read.schema(schemas.TABLES[name]).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table with its declared schema.

    ``events`` needs care — its timestamp column scans differently by
    Spark version; see :func:`events_ts_to_timestamp`.
    """
    prepare(spark)
    assert_environment(spark, sf_dir)
    if not _HOT_ENABLED:
        return _scan(spark, sf_dir, name)
    # the name MUST discriminate by sf dir, not just table name —
    # different SFs (the bench warms up at sf0.001) and probe replica
    # dirs stage the same table names concurrently
    par = spark.sparkContext.defaultParallelism
    staged = stage(
        os.path.join(_HOT_STAGE_ROOT, f"{os.path.basename(os.path.normpath(sf_dir))}_{name}"),
        [table_path(sf_dir, name)],
        (par,),
        lambda tmp: _scan(spark, sf_dir, name).repartition(par).write.parquet(tmp),
    )

    def read() -> DataFrame:
        df = spark.read.parquet(staged)
        if name in _HOT_MEMORY_TABLES:
            df = df.cache()
            df.count()  # materialize the cached, well-partitioned copy
        return df

    return memo(spark, "hot", staged, read)


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Expose fixture tables as temp views so ``spark.sql`` works too
    (the reference's Table/SQL entry point, SURVEY §3.2)."""
    for n in names or list(schemas.TABLES):
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def sink_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite") -> None:
    """Serving-table sink (reference: Doris stream-load; here: parquet).

    ``partition_by`` buys partition pruning for downstream readers — the
    Doris-side equivalent of a distribution key.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def csv_roundtrip(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """CSV format ser/de (reference flink-csv, pom.xml:60-65): write a
    DataFrame as CSV with header and read it back with the same schema."""
    df.write.mode("overwrite").option("header", "true").csv(path)
    return spark.read.schema(df.schema).option("header", "true").csv(path)
