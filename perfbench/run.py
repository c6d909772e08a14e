"""Benchmark of flink_realtime_2024_spark, driven only through its public
surface: ``get_spark``, ``enable_hot_cache`` + ``load_table``, the
builders of ``all_queries()`` and the noop-sink ``DataFrameWriter.save``.

    python3 perfbench/run.py --workload dws_serving --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. One run of one workload:

1. generates the inputs from ``--seed`` (``perfbench/inputs.py``) into
   ``perfbench/.state/inputs/<content digest>``;
2. points ``TMPDIR``, Spark's local dirs, the JVM temp dir and the SQL
   warehouse at a fresh directory under ``perfbench/.state/tmp``, so every
   staged table, checkpoint and sink of the run is cold and is deleted
   at exit;
3. set-up: starts the session on ``local[<cores>]`` and stages the
   workload's tables;
4. a cold pass runs every op once; then, untimed, every op's cold-pass
   result is checked against its DuckDB oracle with
   ``tests/parity.py:compare_engine_side`` (oracle results are cached
   per input digest under ``perfbench/.state/oracles``);
5. warm passes repeat until ``--seconds`` have passed, two at the
   least; the op order of each pass is a seeded permutation and one
   client thread runs one op at a time;
6. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``; spans go to ``perfbench/.state/traces``).

An op fails when it raises or when its oracle does not match.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "flink_realtime_2024_spark"
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs, stats  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# Warm passes per run at the least; a traced run needs an untraced and
# a traced one to measure its overhead.
_MIN_WARM_PASSES = 2

# Harness settings a caller's environment must not override: the
# program runs with its own defaults.
_PROGRAM_ENV = (
    "SPARK_GRAFT_STREAM_FILES_PER_TRIGGER",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_DRIVER_MEM",
    "PYSPARK_SUBMIT_ARGS",
)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(run_root: str) -> dict[str, str]:
    """Send every temp file of the program, its JVM and Spark under
    ``run_root``. Must run before the package (which reads the temp dir
    at import) and pyspark's JVM are loaded."""
    dirs = {k: os.path.join(run_root, k) for k in ("tmp", "spark-local", "jvm", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    for k in _PROGRAM_ENV:
        os.environ.pop(k, None)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    # every JVM, the spark-submit launcher included: its temp dir, and
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS", ""),
        f"-Djava.io.tmpdir={dirs['jvm']}",
        "-XX:-UsePerfData",
    ]))
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        filter(None, [
            os.environ.get("SPARK_SUBMIT_OPTS", ""),
            f"-Dspark.sql.warehouse.dir={dirs['warehouse']}",
        ])
    )
    tempfile.tempdir = None
    return dirs


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` and its live descendants,
    reaped children included. Time the host steals from the VM is not
    charged to a process, so this moves far less with the load of other
    tenants than wall time does."""
    ticks = 0
    for p in (pid, *_descendants(pid)):
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited since it was listed
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _live_heap_mb(spark) -> float:
    """JVM heap in use after a full collection: what the program holds,
    independent of when the collector chose to grow the heap (which is
    what makes the peak RSS vary by a fifth between runs)."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 1024.0 / 1024.0


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        with contextlib.suppress(ProcessLookupError):
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, signal.SIGKILL)


def _shutdown(spark) -> None:
    """Stop the session and the py4j JVM, and wait for the JVM and every
    process it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    family = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _wait_gone(family, 10.0)


def _oracle_db(state_dir: str, input_dir: str, workload: str, queries) -> str:
    """DuckDB file holding each op's oracle result, one table per op id,
    built once per (input digest, workload)."""
    import duckdb

    root = os.path.join(state_dir, "oracles")
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, f"{os.path.basename(input_dir)}-{workload}.duckdb")
    if os.path.exists(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    try:
        with duckdb.connect(tmp) as con:
            for f in os.listdir(input_dir):
                con.execute(
                    f"CREATE TEMP VIEW {f.removesuffix('.parquet')} AS "
                    f"SELECT * FROM read_parquet('{input_dir}/{f}')"
                )
            for op in WORKLOADS[workload].ops:
                con.execute(f'CREATE TABLE "{op}" AS {queries[op].oracle}')
        os.replace(tmp, path)
    finally:
        for leftover in (tmp, f"{tmp}.wal"):
            with contextlib.suppress(FileNotFoundError):
                os.remove(leftover)
    return path


class Run:
    """One workload run in this process."""

    def __init__(self, args, state_dir: str, run_root: str):
        self.wl = WORKLOADS[args.workload]
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.state_dir = state_dir
        self.run_root = run_root
        self.rng = random.Random(args.seed)
        self.seed = args.seed
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []  # {"kind", "traced", "wall", "ops": [...]}
        self.tracer = None

    # -- one op --------------------------------------------------------
    def _span(self, name: str, **attrs):
        if self.tracer is not None and self.tracer.active:
            return self.tracer.span(name, **attrs)
        return contextlib.nullcontext()

    def run_op(self, op: str) -> tuple[dict, object]:
        builder = self.queries[op].builder
        tracer = self.tracer if (self.tracer is not None and self.tracer.active) else None
        mark = tracer.mark() if tracer else None
        rec = {"op": op, "ok": False}
        df = None
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self._span("op", op=op):
                with self._span("plans.builder"):
                    df = builder(self.spark, self.input_dir)
                rec["builder_s"] = time.perf_counter() - t0
                t1 = time.perf_counter()
                with self._span("engine.action"):
                    df.write.mode("overwrite").format("noop").save()
                rec["action_s"] = time.perf_counter() - t1
            rec["ok"] = True
        except Exception:
            self.failed += 1
            print(f"[perfbench] {op} raised:\n{traceback.format_exc()}", file=sys.stderr)
        rec["wall"] = time.perf_counter() - t0
        if tracer and rec["ok"]:
            rec.update(tracer.counters(mark))
        return rec, df

    def engine_cpu_s(self) -> float:
        """CPU seconds of the engine so far: the JVM (its JIT and GC
        threads included) with any Python workers it started, and this
        client process, which runs the builders and foreachBatch sinks."""
        own = os.times()
        return _tree_cpu_s(self.jvm_pid) + own.user + own.system

    def run_pass(self, kind: str, traced: bool) -> dict[str, object]:
        order = list(self.wl.ops)
        self.rng.shuffle(order)
        if self.tracer is not None:
            self.tracer.active = traced
            self.tracer.context = {"workload": self.wl.name, "pass": len(self.passes)}
        p = {"kind": kind, "traced": traced, "ops": []}
        dfs = {}
        cpu0 = self.engine_cpu_s()
        t0 = time.perf_counter()
        for op in order:
            if self.tracer is not None:
                self.tracer.context["op"] = op
            rec, df = self.run_op(op)
            p["ops"].append(rec)
            dfs[op] = df
        p["wall"] = time.perf_counter() - t0
        p["cpu"] = self.engine_cpu_s() - cpu0
        self.passes.append(p)
        print(f"[perfbench] pass {len(self.passes) - 1} {kind} traced={traced} "
              f"{p['wall']:.3f}s wall {p['cpu']:.2f}s cpu", file=sys.stderr)
        return dfs

    # -- the run -------------------------------------------------------
    def setup(self) -> None:
        self.input_dir = inputs.ensure_inputs(
            os.path.join(self.state_dir, "inputs"), self.seed
        )
        self.dirs = _isolate(self.run_root)
        t0 = time.perf_counter()
        import flink_realtime_2024_spark as pkg
        from flink_realtime_2024_spark.sources.io import enable_hot_cache, load_table
        from pyspark import SparkContext

        t1 = time.perf_counter()
        self.spark = pkg.get_spark(app_name="perfbench")
        t2 = time.perf_counter()
        enable_hot_cache(True)
        for t in self.wl.tables:
            load_table(self.spark, self.input_dir, t)
        t3 = time.perf_counter()
        self.setup_s = t3 - t0
        self.session_s = t2 - t1
        self.stage_s = t3 - t2
        self.staged_bytes = _tree_bytes(os.path.join(self.dirs["tmp"], "spark_graft_hotstage"))
        self.queries = pkg.all_queries()
        self.jvm_pid = SparkContext._gateway.proc.pid
        if self.traced:
            from perfbench.tracer import Tracer

            self.tracer = Tracer(
                self.spark,
                self.run_root,
                exclude_dirs=(self.dirs["spark-local"], self.dirs["jvm"]),
            )
            self.tracer.install()

    def measure(self) -> None:
        """Run the cold pass, check its results, then run the warm passes.
        The untimed oracle check sits between them so that the compiles
        the cold pass queued in the JVM drain before the warm timing."""
        cold = self.run_pass("cold", traced=self.traced)
        if self.tracer is not None:
            self.tracer.active = False
        self.verify(cold)
        t0 = time.perf_counter()
        # warm passes until --seconds have passed and there are at least
        # _MIN_WARM_PASSES; a traced run alternates untraced and traced
        # passes to measure its overhead
        while True:
            n_warm = len(self.passes) - 1
            traced = self.traced and n_warm % 2 == 1
            self.run_pass("warm", traced=traced)
            enough = n_warm + 1 >= _MIN_WARM_PASSES
            if enough and time.perf_counter() - t0 >= self.seconds:
                break
        if self.tracer is not None:
            self.tracer.active = False

    def verify(self, cold_dfs: dict[str, object]) -> None:
        import duckdb

        from tests.parity import compare_engine_side

        db = _oracle_db(self.state_dir, self.input_dir, self.wl.name, self.queries)
        con = duckdb.connect()
        con.execute(f"ATTACH '{db}' AS oracle (READ_ONLY)")
        workdir = os.path.join(self.run_root, "verify")
        os.makedirs(workdir)
        try:
            for op in self.wl.ops:
                df = cold_dfs.get(op)
                if df is None:
                    continue  # raised in the cold pass, already counted
                try:
                    compare_engine_side(df, con, f'oracle.main."{op}"', op, workdir=workdir)
                except Exception:
                    self.failed += 1
                    print(f"[perfbench] {op} failed its oracle:\n{traceback.format_exc()}",
                          file=sys.stderr)
        finally:
            con.close()

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        warm = [p["cpu"] for p in self.passes[1:] if not p["traced"]]
        return {
            "setup_s": (self.setup_s, "s"),
            "cold_cpu_s": (self.passes[0]["cpu"], "s"),
            "warm_cpu_s": (stats.median(warm), "s"),
            "live_heap_mb": (self.live_heap_mb, "MiB"),
        }

    def write_trace(self) -> None:
        path = os.path.join(self.state_dir, "traces", f"{self.wl.name}-seed{self.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.tracer.spans, "passes": self.passes}, fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "parity.py")
    ):
        print(f"perfbench: no {PACKAGE} package and tests/parity.py under {ROOT}",
              file=sys.stderr)
        return 2

    state_dir = os.path.join(ROOT, "perfbench", ".state")
    os.makedirs(os.path.join(state_dir, "tmp"), exist_ok=True)
    run_root = tempfile.mkdtemp(prefix="run-", dir=os.path.join(state_dir, "tmp"))
    run = Run(args, state_dir, run_root)
    try:
        # the program's own prints must not land after the result line
        with contextlib.redirect_stdout(sys.stderr):
            try:
                run.setup()
                run.measure()
                run.peak_rss_mb = _peak_rss_mb(run.jvm_pid)
                run.live_heap_mb = _live_heap_mb(run.spark)
                if run.traced:
                    from perfbench.layers import per_layer

                    metrics = per_layer(run)
                    run.tracer.uninstall()
                    run.write_trace()
                else:
                    metrics = run.end_to_end()
            finally:
                if getattr(run, "spark", None) is not None:
                    _shutdown(run.spark)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    print(stats.result_line(run.attempted, run.failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
