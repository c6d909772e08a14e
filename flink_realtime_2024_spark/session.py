"""SparkSession factory and runtime preparation.

The reference job bootstrap is ``StreamExecutionEnvironment.getExecutionEnvironment``
+ HDFS checkpointing (reference pom.xml:32-37, 68-74). Spark equivalent:
one shared ``SparkSession`` with AQE + Arrow on; checkpointing is per-sink
(``option("checkpointLocation", ...)`` — see streaming/).

Scale notes (100 TB design):
- ``spark.sql.adaptive.enabled`` — runtime re-planning: coalesces small
  shuffle partitions, converts sort-merge→broadcast when a side turns out
  small, splits skewed partitions (skew-join handling). Mandatory at scale.
- ``spark.sql.shuffle.partitions`` — the session's
  ``sparkContext.defaultParallelism``, set by ``prepare()``: one wave of
  tasks on every host (32 on a ``local[32]`` host, 8 under a ``local[8]``
  session, 4 on a 4-core ``local[4]`` one). A stateful streaming
  operator fixes its partition count, one state store each, at its
  query's first batch and AQE never coalesces it, so a wider constant
  opened and committed that many stores per operator per batch on a
  narrower host. The width a checkpoint was written at is kept when it
  resumes. ``operators/_util.widen`` and the hot-copy staging in
  ``load_table`` use the same width.
- Arrow execution for every pandas_udf/mapInPandas kernel (vectorized
  Python, not row-at-a-time pickling).
- ``spark.sql.codegen.cache.maxEntries`` — the JVM-wide cache of
  whole-stage-codegen classes, sized to the engine's working set so each
  generated class is compiled (Janino, then the JIT) once per JVM. The
  six ``dws_serving`` serving reads need about 100-120 classes and the
  37 benched ids about 450-470 at sf0.01 and sf0.1 (one pass each, on
  ``local[4]``); under Spark's default of 100 every repeat of a plan
  shape compiled most of its classes again. A static conf, so only
  ``get_spark`` can set it: a session built elsewhere (the verification
  driver's, ``driver_sim.py``'s) keeps Spark's 100.
"""

from __future__ import annotations

import glob
import os
import threading
import zipfile

from pyspark.sql import SparkSession

# Runtime-settable confs applied even to a session we did not create
# (the verification driver passes us its own SparkSession).
_RUNTIME_CONFS: dict[str, str] = {
    # Older environments: events.parquet stored TIMESTAMP(NANOS) which
    # the reader rejects without this legacy conf. Spark 4.1+ removed
    # the conf (it sets without error but is ignored) — the engine no
    # longer *depends* on it; sources/io.py:events_ts_to_timestamp
    # branches on whatever type the scan actually yields, and
    # assert_environment() below fails loudly if it's a type we don't
    # handle.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # Recursive CTEs: the default 1M-ROW guardrail is a toy-scale
    # setting — the 100× probe's linear first-5-orders closure alone is
    # ~75M rows, and a 100 TB corpus is orders beyond that. Rows are
    # the wrong runaway signal for a LINEAR-in-data closure; the
    # level limit (default 100, kept) is what actually catches
    # non-terminating recursion. The conf is an INT conf — a value past
    # 2^31-1 doesn't error, it HANGS py4j session creation (measured:
    # 10_000_000_000 never returns from getOrCreate) — so this is the
    # largest round int-safe value.
    "spark.sql.cteRecursionRowLimit": str(2_000_000_000),
    # spark.sql.shuffle.partitions is not a constant here: prepare()
    # sets it to the session's defaultParallelism, one wave per host
    # (Spark's default 200 is 200 near-empty tasks per exchange at test
    # SFs, and AQE never coalesces a stateful streaming operator's).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow input-batch BYTES cap for every pandas-UDF / mapInPandas
    # stage (r14, advice r13): Spark slices kernel input batches at
    # min(maxRecordsPerBatch rows, maxBytesPerBatch bytes); the 64 MB
    # default meant a 10k-row batch of fat text rows was ~50-70 MB of
    # UNSPILLABLE direct/JNI allocation per concurrent task — the
    # winnow kernel OOM'd a 1 g-default JVM that way (PLANS.md r12
    # §2b), and the r13 fix (a temporary session-global
    # maxRecordsPerBatch=1024 around the staging job) was racy for
    # concurrent jobs on the same session. A BYTES cap is the
    # principled form: 8 MB × 32 concurrent tasks = 256 MB in-flight
    # ceiling at any row width, while narrow rows (embeddings, ids)
    # still hit the 10k-record cap first — their batch sizes are
    # unchanged. Set once per session, no bracket, no race.
    "spark.sql.execution.arrow.maxBytesPerBatch": "8m",
    # fixture files are single small parquets; don't waste time on
    # parallel footer reads / schema merging
    "spark.sql.parquet.mergeSchema": "false",
    # Streaming state lives OFF-HEAP in RocksDB (the production choice
    # at 100 TB: state size is bounded by disk, not executor heap —
    # Flink's RocksDBStateBackend, reference pom.xml's checkpointing
    # stack). Local evidence: stream_dedup over 6M rows (3M-entry
    # dedup state) completes in a 2 GiB JVM with this provider.
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
}


# Flag attribute on each SparkContext the package was shipped to (the
# _ENV_CHECKED_ATTR idiom below: it dies with the context it marks).
_SHIPPED_ATTR = "_flink_realtime_2024_pkg_shipped"
_SHIP_GUARD = threading.Lock()


def _ship_package(sc) -> None:
    """Put this package on the Python workers' path, once per
    SparkContext. Every kernel is a module-level function, so it is
    pickled by reference and the worker must import the package; without
    this a worker finds it only when its working directory is the
    checkout. The package's ``.py`` files are zipped into a workspace
    dir and handed to ``addPyFile``."""
    with _SHIP_GUARD:
        if getattr(sc, _SHIPPED_ATTR, False):
            return
        from .sources.io import workspace  # sources.io imports this module

        pkg = os.path.dirname(os.path.abspath(__file__))
        archive = os.path.join(workspace("pkg_ship_"), os.path.basename(pkg) + ".zip")
        with zipfile.ZipFile(archive, "w") as zf:
            for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
                zf.write(path, os.path.relpath(path, os.path.dirname(pkg)))
        sc.addPyFile(archive)
        setattr(sc, _SHIPPED_ATTR, True)


def prepare(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent) and ship
    the package to its Python workers (once per SparkContext).

    Every query builder calls this first so the engine behaves the same
    under the driver's session as under our own.

    The shuffle width is the session's ``defaultParallelism`` (see the
    Scale notes), so our session, the driver's and the no-AQE clone
    each run one wave of tasks per exchange on the host they run on.

    A session may PIN confs against this sweep via a
    ``_flink_rt_pinned_confs`` attribute (an iterable of conf keys):
    the no-AQE planning clone (plans/analytics._noaqe_session) exists
    precisely to hold ``spark.sql.adaptive.enabled=false``, and a
    builder running ``load_table`` → ``prepare`` on that clone
    concurrently with an iterative loop must not silently re-enable
    AQE mid-loop (r14 review finding)."""
    pinned = frozenset(getattr(spark, "_flink_rt_pinned_confs", ()))
    confs = {
        **_RUNTIME_CONFS,
        "spark.sql.shuffle.partitions": str(spark.sparkContext.defaultParallelism),
    }
    for k, v in confs.items():
        if k in pinned:
            continue
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this session → keep its value
    _ship_package(spark.sparkContext)
    return spark


# Flag attribute stashed on each verified SparkSession object. A set
# keyed on the session's Python id would be wrong twice over: ids
# recycle after GC (a new session could silently skip the probe) and the
# set would grow without bound. An attribute dies with the session it
# verified (sources.io.memo keeps its entries the same way).
_ENV_CHECKED_ATTR = "_flink_realtime_2024_env_checked"


def assert_environment(spark: SparkSession, sf_dir: str) -> None:
    """Fail loudly — once per session — if the environment drifted.

    Round-2 post-mortem: a PySpark upgrade silently ignored a legacy
    conf and every ``events`` query died at runtime with a type error.
    ``prepare()``'s best-effort conf loop cannot detect that (Spark
    accepts removed confs without error), so this probes the one thing
    that actually matters: the events scan must yield a ``ts`` type the
    engine knows how to normalize. One footer read, cached per session.
    """
    if getattr(spark, _ENV_CHECKED_ATTR, False):
        return
    import os as _os

    path = f"{sf_dir}/events.parquet"
    if not _os.path.exists(path):
        return  # nothing to probe against (unit tests with synth frames)
    from pyspark.sql import types as T

    dt = spark.read.parquet(path).schema["ts"].dataType
    ok = isinstance(dt, (T.LongType, T.TimestampNTZType, T.TimestampType))
    if not ok:
        raise RuntimeError(
            f"environment drift: events.ts scans as {dt} on this Spark "
            f"({spark.version}); sources/io.py:events_ts_to_timestamp "
            "handles LongType/TimestampNTZType/TimestampType only — add "
            "a branch before running queries"
        )
    setattr(spark, _ENV_CHECKED_ATTR, True)


def get_spark(
    app_name: str = "flink_realtime_2024_spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    Local harness: ``local[$SPARK_GRAFT_CPUS]`` (32 when unset). The
    shuffle width is no option: ``prepare()`` sets it to the session's
    ``defaultParallelism``, one wave of tasks on the host's cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # static, read at the JVM's first codegen (see Scale notes): about
        # twice the ~470 classes one pass of the 37 benched ids compiles
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.ui.enabled", "false")
        # console progress bars share stdout with bench.py's one-line
        # JSON contract and truncated the driver's tail capture
        # (BENCH_r* "parsed": null every round) — never useful headless
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        b = b.config(k, v)
    return prepare(b.getOrCreate())
