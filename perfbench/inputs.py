"""Seeded input generator for the benchmark.

The program under test reads a directory of parquet tables with the
schemas of the package's fixtures (``schemas.TABLES``): a TPC-H-shaped
star schema plus the ``events`` clickstream topic. This module makes
such a directory from a seed alone, so a run depends on nothing outside
its checkout. Column distributions follow the sf0.01 fixtures (uniform
keys and dates, exponential event values and gaps, ~10k events over 29
days for 150 users); every row order is a seeded permutation, so the
physical layout changes with the seed as well as the values.

Each generated directory is named by the SHA-256 of its files. Two
package memos key on the input path alone (the staged events topic on
the directory basename, the BPE merge cache on the path), so a path
must never be reused for different contents.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.01 row counts; per-op cost at this size is dominated by per-job
# scheduling work, which is what the workloads measure.
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
}
N_USERS = 150

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
_PART_NOUN = ["ring", "widget", "bolt", "anvil", "plate", "rod", "gizmo", "gear"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _days(rng: np.random.Generator, start_us: int, n_days: int, n: int) -> pa.Array:
    us = start_us + rng.integers(0, n_days, n).astype(np.int64) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def generate_tables(seed: int) -> dict[str, pa.Table]:
    """All eight tables for ``seed``; the same seed gives equal tables."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = ROWS
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    k = np.arange(n["customer"], dtype=np.int64)
    tables["customer"] = pa.table(
        {
            "c_custkey": k,
            "c_name": pa.array([f"Customer#{i:09d}" for i in k]),
            "c_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, len(k)),
            "c_mktsegment": _pick(rng, _SEGMENTS, len(k)),
        }
    )
    k = np.arange(n["supplier"], dtype=np.int64)
    tables["supplier"] = pa.table(
        {
            "s_suppkey": k,
            "s_name": pa.array([f"Supplier#{i:09d}" for i in k]),
            "s_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, len(k)),
        }
    )
    k = np.arange(n["part"], dtype=np.int64)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": k,
            "p_name": _pick(rng, names, len(k)),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, len(k))]),
            "p_type": _pick(rng, _PART_TYPES, len(k)),
            "p_size": rng.integers(1, 51, len(k)).astype(np.int32),
            "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 2),
        }
    )
    k = np.arange(n["orders"], dtype=np.int64)
    tables["orders"] = pa.table(
        {
            "o_orderkey": k,
            "o_custkey": rng.integers(0, n["customer"], len(k)).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], len(k)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, len(k)),
            "o_orderdate": _days(rng, _EPOCH_1995_US, 2404, len(k)),
            "o_orderpriority": _pick(rng, _PRIORITIES, len(k)),
        }
    )
    m = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, m),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], m),
            "l_linestatus": _pick(rng, ["F", "O"], m),
            "l_shipdate": _days(rng, _EPOCH_1995_US + _DAY_US, 2499, m),
        }
    )
    e = n["events"]
    # strictly increasing with event_id (+1 µs per gap), spanning ~29 days,
    # inside the 31-day watermark delay of stream_dedup
    gaps = (rng.exponential(29 * _DAY_US / (e + 1), e)).astype(np.int64) + 1
    ts = _EPOCH_2024_US + np.cumsum(gaps)
    tables["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, N_USERS, e).astype(np.int64),
            "event_type": _pick(rng, _EVENT_TYPES, e),
            "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, e)]),
        }
    )
    for name, t in tables.items():
        if name not in ("region", "nation"):
            tables[name] = t.take(pa.array(rng.permutation(t.num_rows)))
    return tables


def _dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode() + b"\0")
        with open(os.path.join(path, name), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:20]


def ensure_inputs(cache_root: str, seed: int) -> str:
    """Write the tables for ``seed`` and return their directory,
    ``<cache_root>/<digest>``. An existing directory with the same
    digest is reused; it holds exactly the same bytes."""
    os.makedirs(cache_root, exist_ok=True)
    tmp = os.path.join(cache_root, f".tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    try:
        for name, table in generate_tables(seed).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        final = os.path.join(cache_root, _dir_digest(tmp))
        if os.path.isdir(final):
            return final
        try:
            os.rename(tmp, final)
        except OSError:
            if not os.path.isdir(final):  # not a lost race: a real error
                raise
        return final
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
