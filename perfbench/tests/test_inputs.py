from __future__ import annotations

import os
import sys

import pytest

from perfbench import inputs

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_same_seed_same_digest_other_seed_other_digest(tmp_path):
    a = inputs.ensure_inputs(str(tmp_path), 5)
    assert inputs.ensure_inputs(str(tmp_path), 5) == a
    b = inputs.ensure_inputs(str(tmp_path), 6)
    assert b != a
    assert sorted(os.listdir(tmp_path)) == sorted({os.path.basename(a), os.path.basename(b)})
    assert inputs.generate_tables(5)["orders"].equals(inputs.generate_tables(5)["orders"])


def test_tables_have_the_declared_schemas():
    from flink_realtime_2024_spark import schemas

    for name, table in inputs.generate_tables(1).items():
        assert table.column_names == schemas.TABLES[name].fieldNames(), name


@pytest.mark.parametrize(
    "op", ["flagship_revenue_by_nation", "window_session", "stream_cdc_upsert"]
)
def test_other_seed_still_passes_its_oracles(spark, tmp_path, op):
    import duckdb

    from flink_realtime_2024_spark import all_queries

    sys.path.insert(0, ROOT)
    from tests.parity import compare_engine_side

    sf = inputs.ensure_inputs(str(tmp_path / "in"), 987654)
    con = duckdb.connect()
    for t in inputs.generate_tables(0):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    q = all_queries()[op]
    con.execute(f"CREATE TEMP TABLE oracle AS {q.oracle}")
    n = compare_engine_side(q.builder(spark, sf), con, "oracle", op, workdir=str(tmp_path))
    assert n > 0
