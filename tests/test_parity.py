"""Runs every registered query against its DuckDB oracle at sf0.001
(fast iteration twin of the driver's sf0.01 gate)."""

from __future__ import annotations

import pytest

from flink_realtime_2024_spark.plans.registry import all_queries

from .conftest import SF_DIR
from .parity import compare

_QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_parity(name, spark, duck):
    q = _QUERIES[name]
    sdf = q.builder(spark, SF_DIR)
    spark_pdf = sdf.toPandas()
    if q.oracle is None:
        assert len(spark_pdf) >= 0  # rows-only: builder must at least run
        return
    oracle_pdf = duck.execute(q.oracle).df()
    compare(spark_pdf, oracle_pdf, name=name)


def test_compare_is_type_faithful():
    """int64 vs decimal128 columns with equal VALUES must fail compare() —
    the driver's arrow value-hash is type-sensitive, and round 1's only red
    cell (agg_conditional) was exactly this class slipping past a
    value-only comparison."""
    from decimal import Decimal

    import numpy as np
    import pandas as pd

    ints = pd.DataFrame({"n": np.array([1000, 2000], dtype=np.int64)})
    decs = pd.DataFrame({"n": [Decimal(1000), Decimal(2000)]})
    with pytest.raises(AssertionError):
        compare(ints, decs, name="int64-vs-decimal128")
    # same-type equal values still pass
    compare(ints, ints.copy(), name="int64-vs-int64")


def test_compare_engine_side(spark, tmp_path):
    """r12 (verdict #2): the no-driver-collect comparison path must
    carry the same contract as compare() — multiset value equality,
    column-name schema, TYPE sensitivity — computed entirely inside
    the two engines. Pins: match passes (and returns the row count),
    a single changed value fails, a changed duplicate-row COUNT fails
    (multiset, not set, semantics), an int64-vs-HUGEINT type drift
    fails, and a timestamp column survives the parquet round trip
    (Spark writes UTC-adjusted micros that DuckDB reads back as
    TIMESTAMP WITH TIME ZONE; the path casts to naive to meet a naive
    oracle)."""
    import duckdb

    from .parity import compare_engine_side

    con = duckdb.connect()
    df = spark.createDataFrame(
        [(1, 2.5, "a", "2024-01-01 10:00:00"),
         (2, float("nan"), "b", "2024-01-02 11:30:00"),
         (2, float("nan"), "b", "2024-01-02 11:30:00"),  # duplicate row
         (3, None, None, None)],
        "k long, v double, s string, t string",
    ).selectExpr("k", "v", "s", "CAST(t AS TIMESTAMP) AS t")

    base = ("SELECT * FROM (VALUES "
            "(1::BIGINT, 2.5::DOUBLE, 'a', TIMESTAMP '2024-01-01 10:00:00'), "
            "(2::BIGINT, 'NaN'::DOUBLE, 'b', TIMESTAMP '2024-01-02 11:30:00'), "
            "(2::BIGINT, 'NaN'::DOUBLE, 'b', TIMESTAMP '2024-01-02 11:30:00'), "
            "(3::BIGINT, NULL::DOUBLE, NULL::VARCHAR, NULL::TIMESTAMP)"
            ") _t(k, v, s, t)")

    def oracle(sql):
        con.execute(f"CREATE OR REPLACE TEMP TABLE _oracle AS {sql}")
        return "_oracle"

    # match (NaN==NaN, NULL==NULL, duplicates preserved)
    n = compare_engine_side(df, con, oracle(base), "ok", str(tmp_path))
    assert n == 4
    # one value changed -> fail
    with pytest.raises(AssertionError, match="multiset"):
        compare_engine_side(
            df, con, oracle(base.replace("2.5::DOUBLE", "2.6::DOUBLE")),
            "val", str(tmp_path))
    # duplicate multiplicity changed -> fail (EXCEPT ALL, not EXCEPT)
    dedup = f"SELECT DISTINCT * FROM ({base}) _d"
    with pytest.raises(AssertionError, match="multiset"):
        compare_engine_side(df, con, oracle(dedup), "dup", str(tmp_path))
    # type drift: BIGINT vs HUGEINT with equal values -> fail
    hug = base.replace("1::BIGINT", "1::HUGEINT").replace(
        "2::BIGINT", "2::HUGEINT").replace("3::BIGINT", "3::HUGEINT")
    with pytest.raises(AssertionError, match="type mismatch"):
        compare_engine_side(df, con, oracle(hug), "typ", str(tmp_path))

    # decimal reconciliation (r13 review): equal VALUES at differing
    # precision AND differing scale pass the pandas gate (both cells
    # tag 'Decimal'; Decimal('1.50') == Decimal('1.500')), so the
    # engine-side path must agree — widened to DECIMAL(38, max_scale)
    ddf = spark.createDataFrame([(1, "1.50"), (2, "2.25")], "k long, m string")
    ddf = ddf.selectExpr("k", "CAST(m AS DECIMAL(12,2)) AS m")
    dec_oracle = ("SELECT * FROM (VALUES "
                  "(1::BIGINT, 1.500::DECIMAL(18,3)), "
                  "(2::BIGINT, 2.250::DECIMAL(18,3))) _t(k, m)")
    n = compare_engine_side(ddf, con, oracle(dec_oracle), "dec", str(tmp_path))
    assert n == 2
    # but a genuine VALUE difference at the widened scale still fails
    with pytest.raises(AssertionError, match="multiset"):
        compare_engine_side(
            ddf, con,
            oracle(dec_oracle.replace("1.500", "1.501")),
            "dec_val", str(tmp_path))


@pytest.mark.parametrize("name", ["winfn_topn", "winfn_rank"])
def test_window_ranks_pass_engine_side(name, spark, duck, tmp_path):
    """Spark's row_number()/rank()/dense_rank() are INTEGER and DuckDB's
    BIGINT. The pandas gate tags both widths ``int``; the type-faithful
    engine-side compare does not, so the builders cast their ranks."""
    from .parity import compare_engine_side

    duck.execute(f"CREATE OR REPLACE TEMP TABLE _oracle AS {_QUERIES[name].oracle}")
    assert compare_engine_side(
        _QUERIES[name].builder(spark, SF_DIR), duck, "_oracle", name, str(tmp_path)
    ) > 0


def test_deltas_skip_quarantined_history(tmp_path, monkeypatch):
    """r12 (verdict #3): a bench_history entry carrying `quarantined`
    (a record taken under known contamination) must never become the
    delta baseline — the next-best clean entry wins instead."""
    import json

    import bench

    hist = [
        {"round": 10, "sf": 0.1, "queries": {"q1": 20.0}},
        {"round": 11, "sf": 0.1, "quarantined": "noisy box",
         "queries": {"q1": 45.0}},
    ]
    (tmp_path / "bench_history.jsonl").write_text(
        "\n".join(json.dumps(e) for e in hist) + "\n"
    )
    monkeypatch.setenv("BENCH_ROUND", "12")
    d = bench._deltas_vs_previous({"q1": 21.0}, 0.1, here=str(tmp_path))
    assert d["vs"] == "r10 (bench_history)", d
    assert d["queries"]["q1"] == pytest.approx(1.0)
    # and the real repo history has the r11 contaminated entry marked
    import os
    repo_hist = os.path.join(os.path.dirname(bench.__file__), "bench_history.jsonl")
    marked = [
        json.loads(ln) for ln in open(repo_hist) if "quarantined" in ln
    ]
    assert any(e.get("value") == 45.273 for e in marked)


def test_bench_round_malformed_env_falls_through(monkeypatch):
    """r11 advice: BENCH_ROUND='r12' (or whitespace) must fall through
    to the PROGRESS.jsonl inference instead of aborting the bench."""
    import bench

    monkeypatch.setenv("BENCH_ROUND", "r12")
    assert isinstance(bench._bench_round(), int)
    monkeypatch.setenv("BENCH_ROUND", "12")
    assert bench._bench_round() == 12


def test_stream_progress_attributes_by_run(spark):
    """``observability.stream_progress`` keeps the progress of the
    queries started inside its block, by run id: two
    ``stream_source_smoke`` runs in one block sum to twice the events
    feed, and a block opened right after a run holds none of that run's
    progress, even while its last events may still be queued on the
    listener bus."""
    from flink_realtime_2024_spark.observability import stream_progress

    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    smoke = _QUERIES["stream_source_smoke"].builder
    with stream_progress(spark) as progress:
        smoke(spark, SF_DIR)
        smoke(spark, SF_DIR)
    assert len({str(p.runId) for p in progress}) == 2
    assert sum(p.numInputRows for p in progress) == 2 * n_events
    assert all("addBatch" in p.durationMs for p in progress)

    smoke(spark, SF_DIR)
    with stream_progress(spark) as later:
        pass
    assert later == []


_LINE_KEYS = {
    "metric", "value", "unit", "sf", "n_ok", "n_err", "batch_sec",
    "streaming_sec", "batch_reps", "streaming_reps", "r1_comparable_subset_sec",
    "session_rebuilds", "detail", "detail_sha256", "queries",
    "sf1_probe", "sf3_probe", "sf10_probe", "sf10_recall",
}


def test_bench_line_fixed_schema():
    """``bench.bench_line`` prints one key set whatever the run did, and
    its widest line (37 ids at 9999.999 s, every tier populated, 37
    errors and session rebuilds on top) fits in 1,800 bytes: a reader
    that keeps the last 2 KB of stdout always parses it. No size check
    is left to drop fields."""
    import inspect
    import json

    import bench

    ids = sorted(n for n, q in _QUERIES.items() if q.bench)
    assert len(ids) == 37

    def tier(replication, names):
        timed = {
            n: {"sec": 9999.999, "base_sec": 9999.999, "ratio_vs_base": 9999.99,
                "recall_vs_bruteforce": 0.9999, "recall_connected": 0.9999}
            for n in names
        }
        warmup = {"warmup_id": names[0], "warmup_sec": 9999.999}
        return {"replication": replication, "base_sf": 0.001, "staging_seconds": 9999.999,
                "queries": {"_tier_isolation": warmup, **timed}}

    errors = {n: "RuntimeError: " + "x" * 186 for n in ids}
    totals = {
        "metric": "headline_queries_total_wall_seconds", "value": 369999.963,
        "unit": "sec", "sf": 0.001, "n_ok": 37, "n_err": 37,
        "batch_sec": 369999.963, "streaming_sec": 369999.963, "batch_reps": 3,
        "streaming_reps": 5, "r1_comparable_subset_sec": 369999.963,
        "query_errors": errors, "session_rebuilds": ["23:59:59"] * 37,
        "streaming_probe": {"error": errors[ids[0]]},
        "skew_probe": {"error": errors[ids[0]]},
    }
    worst = {
        **totals,
        "queries": dict.fromkeys(ids, 9999.999),
        "deltas": {"vs": "r99", "queries": dict.fromkeys(ids, -9999.999)},
        "sf1_probe": tier(10, bench._SF1_QUERIES),
        "sf3_probe": tier(30, bench._SF3_QUERIES),
        "sf10_probe": tier(100, bench._SF10_QUERIES),
    }
    failed = {**totals, "queries": {}, "sf1_probe": {"error": errors[ids[0]]},
              "sf10_probe": {"error": errors[ids[0]]}}  # sf3 skipped
    lines = [bench.bench_line(r, "0123456789ab") for r in (worst, failed)]
    got = [json.loads(line) for line in lines]
    assert set(got[0]) == set(got[1]) == _LINE_KEYS
    assert [len(line.encode()) <= 1800 for line in lines] == [True, True], lines
    assert got[0]["queries"] == dict.fromkeys(ids, 9999.999)
    assert got[1]["queries"] == dict.fromkeys(ids)
    n10 = len(bench._SF10_QUERIES)
    assert got[0]["sf10_probe"] == [100, n10, round(n10 * 9999.999, 1), 9999.99, 9999.99]
    assert got[1]["sf1_probe"] is got[1]["sf3_probe"] is got[1]["sf10_probe"] is None
    assert got[0]["sf10_recall"] == dict.fromkeys(["minhash", "simhash", "simhash_b5"], [0.9999] * 2)
    assert got[1]["sf10_recall"] == dict.fromkeys(["minhash", "simhash", "simhash_b5"], [None] * 2)
    assert "len(json.dumps(" not in inspect.getsource(bench)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"nation", "revenue", "order_lines"}


def test_contract_shape():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)
    assert "flagship_revenue_by_nation" in qs


def test_live_spark_resurrects_stopped_context():
    """r14 (verdict #1): a JVM-side context stop (what the uncaught
    executor-OOM handler does — python never hears about it) must be
    detected by bench._live_spark(), which rebuilds a working session
    in the same gateway JVM and records the rebuild. Runs in a
    subprocess so the suite's shared session is never touched."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = """
import sys
sys.path.insert(0, %r)
import bench
from flink_realtime_2024_spark.sources import io
s1 = bench._live_spark()
assert s1.range(10).count() == 10
assert io.memo(s1, "probe", 1, lambda: "built") == "built"
# stop the context JVM-SIDE only, as SparkUncaughtExceptionHandler does
s1.sparkContext._jsc.sc().stop()
assert bench._context_stopped(s1)
s2 = bench._live_spark()
assert s2 is not s1
assert s2.range(10).count() == 10
assert len(bench._ACTIVE["rebuilds"]) == 1
# memos live on the session object: the rebuilt one starts empty
assert not getattr(s2, io._MEMO_ATTR, None)
assert io.memo(s2, "probe", 1, lambda: "rebuilt") == "rebuilt"
print("RESURRECT_OK")
""" % (root,)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, env=env, cwd=root,
    )
    assert "RESURRECT_OK" in proc.stdout, proc.stderr[-2000:]
