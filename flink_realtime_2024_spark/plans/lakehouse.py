"""Mini-lakehouse table format: manifest-committed snapshots over plain
parquet, merge-on-read keyed MERGE with stats-pruned compaction, and
time travel.

The reference's serving stores (HBase dim tables, Doris Unique- and
Aggregate-key tablets — realtime-common/pom.xml:39-53) are merge-on-read
LSM stores: a write appends, reads and compaction merge. Spark's native
answer is a lakehouse format (Delta/Iceberg/Hudi), none of which ship in
this environment. This module implements the part of that design the
engine's CDC/serving paths actually need, from first principles on
stdlib + parquet:

- a table is a directory of immutable data files plus numbered manifest
  files; **the manifest is the table** — a snapshot is the file list in
  ``manifest-v{N}.json``, committed atomically (a fsynced temp file
  hard-linked onto the name: first commit wins, no reader or crash ever
  sees a partial head), so a reader of version N is isolated from every
  later writer;
- every data file records min/max stats and a Bloom bitmap of the key,
  taken from the write itself (Parquet footers, an Observation for the
  Bloom bits); reads take the manifest's schema instead of inferring one;
- the per-key reduction is a property of the table, recorded in the
  manifest: the latest image (a UNIQUE-KEY / HBase upsert; a delete
  drops the key) by default, or a sum (``stream_agg_merge``'s Doris
  AGGREGATE-KEY table). Opening a table with another reduction raises;
- a MERGE is merge-on-read: the batch is written as it arrives, one
  key-sorted file per batch partition, and committed as ``delta``
  entries next to the ``base`` ones — one Spark job, no state read, no
  shuffle, so write cost is O(batch). ``read``, a pruned point lookup
  and ``changed`` apply the reduction over base ∪ deltas;
- compaction: once a merge leaves more than ``_MAX_DELTAS`` batches as
  deltas, it folds them into base. The base files whose key range and
  Bloom bits overlap the deltas' are read with them, reduced and
  rewritten range-sorted; the rest carry over by reference (the
  Delta/Iceberg MERGE INTO shape, with the deltas as its batch).
  ``compact_table`` is the same fold over every file. Base files hold
  one reduced row per key and never share a key;
- old snapshots stay readable (time travel) until explicitly expired.

One semantic difference from folding each batch into the state as it
arrives (copy-on-write): until compaction, a delete also masks a row of
a LATER batch that carries an older ``ts_ms`` (the reduction sees both;
copy-on-write had dropped the tombstone and resurrects the key). The
two agree whenever a key's ``ts_ms`` never goes backwards across
batches, which holds for every registered op.

At 100 TB: a MERGE writes only its batch, compaction costs the deltas
plus the base files they overlap, a read merges at most
``_MAX_DELTAS`` batches with the base, and the manifest (one JSON row
per file) is the only metadata a planner must list. ADD-COLUMN schema
evolution (old files are never rewritten; reads surface NULL —
``lake_schema_evolve``) and concurrent writers (a lost manifest race
re-commits the same files, or re-derives the compaction, against the
new head) are supported. The deliberate gaps vs a real format: one
merge key, no column rename/drop or type widening.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from ..observability import await_observation
from ..sources.cdc import (
    CHANGELOG_SQL,
    _LATEST_ORACLE,
    _changelog_thirds,
    latest_per_key,
)
from ..sources.io import content_digest, memo, table_path, workspace
from ..plans.registry import register


# fixed Bloom size: 8192 bits = 1 KiB per data file in the manifest. One
# xxhash64 probe per key (k=1). Intersection of two same-seed bitmaps is
# a sound may-intersect test: a key present in both sets sets the same
# bit in both, so AND == 0 proves the key sets disjoint.
_BLOOM_BITS = 8192
# a merge that leaves more deltas (batches) than this folds them into
# base, so a read merges at most this many batches' files with the base
_MAX_DELTAS = 8
# Spark names a task's output file part-<task index, %05d>-<uuid>...
_PART_RE = re.compile(r"^part-(\d{5})-")
_MANIFEST_RE = re.compile(r"^manifest-v(\d+)\.json$")


def _bloom_bit(key: Column) -> Column:
    return F.pmod(F.xxhash64(key), F.lit(_BLOOM_BITS)).cast("int")


def _bloom_hex(positions) -> str:
    """Fold collect_set bit positions (ints in [0, _BLOOM_BITS)) into a
    hex-encoded bitmap for the JSON manifest."""
    bits = bytearray(_BLOOM_BITS // 8)
    for p in positions:
        bits[p >> 3] |= 1 << (p & 7)
    return bits.hex()


def _is_delta(entry: dict) -> bool:
    return entry.get("kind") == "delta"


def _key_stats(entries: list[dict]) -> tuple:
    """(min, max, Bloom bitmap as an int) of the keys of ``entries``."""
    bloom = 0
    for e in entries:
        bloom |= int(e["bloom"], 16)
    return min(e["min"] for e in entries), max(e["max"] for e in entries), bloom


def _may_overlap(entry: dict, lo, hi, bloom: int) -> bool:
    """Whether a file may hold a key of a set with stats (lo, hi, bloom):
    both the key ranges and the Bloom bitmaps must intersect."""
    return entry["min"] <= hi and entry["max"] >= lo and bool(int(entry["bloom"], 16) & bloom)


def _reduce_name(reduce) -> str:
    return f"{reduce.__module__}.{reduce.__qualname__}"


class LakeTable:
    """Handle to a manifest-committed parquet table rooted at ``root``,
    keyed on ``key``. ``reduce`` folds rows to one per key and keeps
    every column at its type; it must be the reduction the table's head
    records."""

    def __init__(self, root: str, key: str, reduce=latest_per_key):
        self.root = root
        self.key = key
        self.reduce = reduce
        self.data_dir = os.path.join(root, "data")
        self._typed: set = set()  # batch schemas the reduction was checked on
        recorded = self._head()[1].get("reduce")
        if recorded not in (None, _reduce_name(reduce)):
            raise ValueError(
                f"table {root} is reduced by {recorded}, not {_reduce_name(reduce)}"
            )

    # -- manifest plumbing -------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, f"manifest-v{version}.json")

    def versions(self) -> list[int]:
        """The committed versions not yet expired, ascending. Only exact
        ``manifest-v{N}.json`` names count — a commit's temp file is
        never a version."""
        return sorted(int(m.group(1)) for m in map(_MANIFEST_RE.match, os.listdir(self.root)) if m)

    def latest_version(self) -> int:
        """The head: the highest committed version."""
        versions = self.versions()
        if not versions:
            raise FileNotFoundError(f"no manifest in {self.root}")
        return versions[-1]

    def manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def _commit(
        self,
        version: int,
        files: list[dict],
        operation: str,
        columns: list[str] | None = None,
        types: dict[str, str] | None = None,
        deltas: int = 0,
    ) -> None:
        """First-commit-wins atomic manifest write: a fsynced temp file
        is hard-linked onto ``manifest-v{version}.json``, so the name
        never points at a partial manifest (a reader or a crash sees the
        old head or the new one) and the link fails with EEXIST if
        another writer took this version. ``merge()`` catches that and
        retries against the new head (the Delta commit loop); direct
        callers get the FileExistsError. ``columns`` and ``types``
        (column → Spark simpleString) are the schema reads use;
        ``deltas`` counts the merges whose files are still deltas."""
        manifest = {
            "version": version, "key": self.key, "operation": operation,
            "reduce": _reduce_name(self.reduce), "deltas": deltas,
            "files": files, "columns": columns, "types": types,
        }
        fd, tmp = tempfile.mkstemp(prefix=".manifest-", suffix=".tmp", dir=self.root)
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(manifest, fh)
                fh.flush()
                os.fsync(fh.fileno())
            os.link(tmp, self._manifest_path(version))
        finally:
            os.remove(tmp)

    def _head(self) -> tuple[int, dict]:
        """(version, manifest) of the head; (-1, no files) before v0."""
        try:
            version = self.latest_version()
        except FileNotFoundError:
            return -1, {"files": []}
        return version, self.manifest(version)

    def _retry(self, attempt, max_retries: int):
        """Run ``attempt`` until its commit wins: a lost manifest race
        (FileExistsError) runs it again against the new head."""
        last_err: Exception | None = None
        for _ in range(max_retries + 1):
            try:
                return attempt()
            except FileExistsError as e:
                last_err = e
        raise RuntimeError(
            f"gave up after {max_retries + 1} commit attempts"
        ) from last_err

    # -- data-file plumbing ------------------------------------------------

    def _reduced(self, df: DataFrame) -> DataFrame:
        """``reduce(df)``, rejected when it changes a column's type: the
        commit records the input's types, and files of any other type
        would fail every later read of the table."""
        out = self.reduce(df)
        want, got = ({f.name: f.dataType.simpleString() for f in x.schema.fields} for x in (df, out))
        if got != want:
            raise ValueError(f"reduce changed the column types {want} to {got}")
        return out

    def _write_files(self, df: DataFrame, n_files: int | None = None) -> list[dict]:
        """Write ``df`` as immutable data files sorted by the key and
        return their manifest entries with the key's min/max and
        xxhash64 Bloom bitmap.

        Without ``n_files`` the rows are a ``delta``: written as they
        arrive, one file per partition, in one Spark job with no
        shuffle. With ``n_files`` they are ``base``: range-partitioned
        on the key into at most that many files (tight per-file stats ⇒
        effective pruning), and the table's reduction runs inside those
        partitions, whose RangePartitioning(key) satisfies its
        clustering, so the write is one shuffle; AQE never coalesces an
        explicit-width repartition, so task i writes ``part-<i>``.

        The stats come from the write itself, as in Delta/Iceberg:
        min/max from the Parquet footers (``_key_range``), the Bloom
        bits from an Observation on the write job keyed by partition id.
        Zero-row files (an empty batch, an all-deletes compaction) are
        never manifested, and the table's data dir is made only for a
        file that is."""
        import pyarrow.parquet as pq

        out = self._reduced(df.repartitionByRange(n_files, self.key)) if n_files else df
        out = out.sortWithinPartitions(self.key)
        kind = "base" if n_files else "delta"
        # spark_partition_id() cannot be evaluated inside observe():
        # project it as a column, observe that, then drop it
        obs = Observation()
        bit = F.struct("_part", _bloom_bit(F.col(self.key)))
        # staged under the table root, so each rename below stays on
        # the root's filesystem
        staging = tempfile.mkdtemp(prefix="lake_stage_", dir=self.root)
        try:
            out.withColumn("_part", F.spark_partition_id()).observe(
                obs, F.collect_set(bit).alias("bits")
            ).drop("_part").write.mode("overwrite").parquet(staging)
            bits: dict[int, list[int]] = {}
            for part, b in await_observation(obs, "LakeTable._write_files")["bits"]:
                bits.setdefault(part, []).append(b)
            entries = []
            for f in sorted(f for f in os.listdir(staging) if f.endswith(".parquet")):
                meta = pq.read_metadata(os.path.join(staging, f))
                if meta.num_rows == 0:
                    continue
                part = _PART_RE.match(f)
                task_bits = part and bits.get(int(part.group(1)))
                if not task_bits:
                    raise RuntimeError(f"data file {f} has no observed write task")
                lo, hi = _key_range(os.path.join(staging, f), meta, self.key)
                dst = os.path.join("data", f"{uuid.uuid4().hex}.parquet")
                os.makedirs(self.data_dir, exist_ok=True)
                os.rename(os.path.join(staging, f), os.path.join(self.root, dst))
                entries.append(
                    {"path": dst, "kind": kind, "min": lo, "max": hi, "bloom": _bloom_hex(task_bits)}
                )
            return entries
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _remove(self, entries: list[dict]) -> None:
        """Delete uncommitted data files (invisible to every reader)."""
        for e in entries:
            with contextlib.suppress(OSError):
                os.remove(os.path.join(self.root, e["path"]))

    def _scan(self, spark: SparkSession, m: dict, paths: list[str]) -> DataFrame:
        """Read data files of manifest ``m`` at the manifest's schema: a
        file that lacks a column reads it as NULL, and no job infers a
        schema."""
        ddl = ", ".join(f"`{c.replace('`', '``')}` {m['types'][c]}" for c in m["columns"])
        return spark.read.schema(ddl).parquet(*(os.path.join(self.root, p) for p in paths))

    def _state(self, spark: SparkSession, m: dict, entries: list[dict]) -> DataFrame:
        """The table's rows held by ``entries``, read at manifest ``m``'s
        schema and reduced per key when a delta is among them (base
        files already hold one reduced row per key, so a base-only read
        is a plain scan). Callers pass every file that may hold the keys
        they ask for."""
        rows = self._scan(spark, m, [e["path"] for e in entries])
        if not any(map(_is_delta, entries)):
            return rows
        return self.reduce(rows).select(*rows.columns)

    def changed(
        self, spark: SparkSession, v_from: int, v_to: int
    ) -> tuple[DataFrame | None, DataFrame | None]:
        """The table's reduced rows at ``v_from`` and at ``v_to`` (both
        read at ``v_to``'s schema) for the keys of the data files in
        only one of the two snapshots: the deltas committed in between,
        or the files a compaction replaced and wrote. Any other key has
        the same rows at both versions. A side that no file may hold is
        None, and (None, None) means no file differs; version -1 is the
        empty table before v0. The cost is that of the differing files
        plus the files their key stats overlap."""
        m_from = self.manifest(v_from) if v_from >= 0 else {"files": []}
        m_to = self.manifest(v_to)
        a, b = ({e["path"]: e for e in m["files"]} for m in (m_from, m_to))
        diff = [e for p, e in a.items() if p not in b] + [e for p, e in b.items() if p not in a]
        if not diff:
            return None, None
        keys = self._scan(spark, m_to, [e["path"] for e in diff]).select(self.key)
        lo, hi, bloom = _key_stats(diff)

        def state(m: dict) -> DataFrame | None:
            hit = [e for e in m["files"] if _may_overlap(e, lo, hi, bloom)]
            return self._state(spark, m_to, hit).join(keys, self.key, "left_semi") if hit else None

        return state(m_from), state(m_to)

    # -- public API --------------------------------------------------------

    @classmethod
    def create(
        cls, df: DataFrame, root: str, key: str, n_files: int = 8
    ) -> "LakeTable":
        """A new latest-image table whose v0 is ``df``, reduced per key,
        as base files."""
        os.makedirs(root, exist_ok=True)
        t = cls(root, key)
        t._commit(
            0,
            t._write_files(df, n_files),
            "create",
            columns=df.columns,
            types={f.name: f.dataType.simpleString() for f in df.schema.fields},
        )
        return t

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read: exactly the manifest's file list — a reader of
        version N never sees later commits (snapshot isolation by
        construction: data files are immutable, manifests append-only)
        — reduced per key over base ∪ deltas. The read takes the
        manifest's (MONOTONE, see ``merge``) schema, so a file written
        before an add-column commit, or a column no surviving file
        holds, reads as NULL at the logged type — Delta's
        log-schema-wins semantics."""
        m = self.manifest(self.latest_version() if version is None else version)
        if not m["files"]:
            raise ValueError("empty table snapshot")
        return self._state(spark, m, m["files"])

    def merge(
        self,
        spark: SparkSession,
        batch: DataFrame,
        n_files: int = 2,
        max_retries: int = 3,
    ) -> int:
        """MERGE INTO, merge-on-read: ``batch`` (for the default
        reduction, a changelog of upserts and deletes) is written as it
        arrives, in one Spark job that scans it once, and committed as
        delta entries; ``read`` applies the table's reduction. Returns
        the new head. An empty batch commits nothing and returns the
        head (-1 on a table with no snapshot yet, which gets its v0 from
        its first non-empty batch). A reduction that would change a
        column's type is rejected before any write. A commit that leaves
        more than ``_MAX_DELTAS`` merges as deltas then folds them into
        ``n_files``-wide base files (``_merge_attempt``), a second
        commit.

        Under the latest-image reduction re-applying a batch is
        idempotent: it picks the same winner per key over (current rows
        ∪ batch). Other reductions are not (a sum counts a replayed
        batch twice), and no manifest records a batch id. A lost
        manifest race re-commits the same files against the new head.
        The commit's schema is MONOTONE (the Delta rule): the parent's
        columns plus any the batch adds, types accumulating the same
        way, so a later batch that lacks an evolved column never
        narrows what ``read`` returns."""
        schema = batch.schema
        if schema not in self._typed:  # the type check: analysis only, no job
            self._reduced(batch)
            self._typed.add(schema)
        files = self._write_files(batch)
        if not files:
            return self._head()[0]
        types = {f.name: f.dataType.simpleString() for f in schema.fields}

        def append() -> tuple[int, int]:
            parent, m = self._head()
            cols = m.get("columns") or []
            deltas = m.get("deltas", 0) + 1
            self._commit(
                parent + 1,
                m["files"] + files,
                "merge",
                columns=cols + [c for c in schema.names if c not in cols],
                types={**(m.get("types") or {}), **types},
                deltas=deltas,
            )
            return parent + 1, deltas

        try:
            version, n_deltas = self._retry(append, max_retries)
        except BaseException:
            self._remove(files)
            raise
        if n_deltas > _MAX_DELTAS:
            return self._compact(spark, n_files, max_retries=max_retries)
        return version

    def _compact(
        self, spark: SparkSession, n_files: int, everything: bool = False, max_retries: int = 3
    ) -> int:
        """Fold the head's deltas (or, with ``everything``, all of its
        files) into base; a lost race re-derives the fold against the
        new head, so an append that raced it is folded or kept."""
        return self._retry(lambda: self._merge_attempt(spark, n_files, everything), max_retries)

    def _merge_attempt(self, spark: SparkSession, n_files: int, everything: bool) -> int:
        """One compaction commit: the stats-pruned copy-on-write MERGE
        with the deltas' rows as its batch. Base files whose key range
        and Bloom bitmap both overlap the deltas' are read with them and
        rewritten (reduced, range-sorted); the others carry over by
        reference. Returns the new version, or the head when there is
        nothing to fold."""
        parent, m = self._head()
        fold, rest = [], []
        for e in m["files"]:
            (fold if everything or _is_delta(e) else rest).append(e)
        if not fold:
            return parent
        lo, hi, bloom = _key_stats(fold)
        touched, carried = [], []
        for e in rest:
            (touched if _may_overlap(e, lo, hi, bloom) else carried).append(e)
        new_files = self._write_files(
            self._scan(spark, m, [e["path"] for e in touched + fold]), n_files
        )
        try:
            self._commit(
                parent + 1, carried + new_files, "compact",
                columns=m["columns"], types=m["types"],
            )
        except FileExistsError:
            self._remove(new_files)
            raise
        return parent + 1


def _key_range(path: str, meta, key: str) -> tuple:
    """(min, max) of ``key`` in one data file, from its footer's
    row-group statistics. Where the writer left them out (parquet-mr
    drops min/max over 4 KiB, e.g. a string key of ~2 KB), the file's
    key column alone is read instead; a key with no non-NULL value
    fails loudly."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    col = [meta.schema.column(i).path for i in range(meta.num_columns)].index(key)
    stats = [meta.row_group(i).column(col).statistics for i in range(meta.num_row_groups)]
    if all(s is not None and s.has_min_max for s in stats):
        return min(s.min for s in stats), max(s.max for s in stats)
    r = pc.min_max(pq.read_table(path, columns=[key]).column(key)).as_py()
    if r["min"] is None:
        raise RuntimeError(f"data file {path} has no non-NULL {key!r}")
    return r["min"], r["max"]


# =============================================================================
# Registered queries: the CDC → lakehouse serving path, oracle-checked
# =============================================================================


def _build_lake(spark: SparkSession, sf_dir: str) -> LakeTable:
    """Create the table from batch 0 (reduced into base files), then
    MERGE batches 1-2 as deltas — built once per session and content of
    ``orders``."""

    def build() -> LakeTable:
        log, parts = _changelog_thirds(spark, sf_dir)
        try:
            t = LakeTable.create(parts[0], workspace("lake_orders_"), "key")
            t.merge(spark, parts[1])
            t.merge(spark, parts[2])
            return t
        finally:
            log.unpersist()

    return memo(spark, "lake_orders", content_digest([table_path(sf_dir, "orders")]), build)


@register("lake_cdc_merge", oracle=_LATEST_ORACLE, section="S4,S7")
def lake_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC changelog applied to the lakehouse table via two
    merge-on-read MERGE commits; the final snapshot, reduced over base
    and deltas at read, must equal the one-shot latest-per-key
    materialization (full cdc_latest_row oracle)."""
    t = _build_lake(spark, sf_dir)
    return t.read(spark).select("key", "op", "totalprice", "orderstatus", "ts_ms")


_TIME_TRAVEL_ORACLE = f"""
WITH {CHANGELOG_SQL},
bounds AS (
  SELECT MIN(ts_ms) AS lo, (MAX(ts_ms) - MIN(ts_ms)) // 3 + 1 AS step FROM changelog
),
batch0 AS (
  SELECT c.* FROM changelog c, bounds b WHERE c.ts_ms < b.lo + b.step
)
SELECT key, op, totalprice, orderstatus, ts_ms
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY key
    ORDER BY ts_ms DESC, CASE op WHEN 'd' THEN 2 WHEN 'u' THEN 1 ELSE 0 END DESC,
             COALESCE(totalprice, -1) DESC, COALESCE(orderstatus, '') DESC
  ) AS rn
  FROM batch0
)
WHERE rn = 1 AND op <> 'd'
"""


@register("lake_time_travel", oracle=_TIME_TRAVEL_ORACLE, section="S4,S7,S11")
def lake_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: reading snapshot v0 AFTER two later MERGE commits
    must return exactly the pre-merge state (data files are immutable,
    the v0 manifest still points at them). The oracle recomputes batch
    0's latest-per-key state independently in DuckDB — so this checks
    both snapshot isolation and that MERGE never mutates history."""
    t = _build_lake(spark, sf_dir)
    return t.read(spark, version=0).select(
        "key", "op", "totalprice", "orderstatus", "ts_ms"
    )


_SCHEMA_EVOLVE_ORACLE = f"""
WITH {CHANGELOG_SQL},
bounds AS (
  SELECT MIN(ts_ms) AS lo, (MAX(ts_ms) - MIN(ts_ms)) // 3 + 1 AS step FROM changelog
),
latest AS (
  SELECT key, op, totalprice, orderstatus, ts_ms
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY key
      ORDER BY ts_ms DESC, CASE op WHEN 'd' THEN 2 WHEN 'u' THEN 1 ELSE 0 END DESC,
               COALESCE(totalprice, -1) DESC, COALESCE(orderstatus, '') DESC
    ) AS rn
    FROM changelog
  )
  WHERE rn = 1 AND op <> 'd'
)
SELECT l.key, l.op, l.totalprice, l.orderstatus, l.ts_ms,
       CASE WHEN l.ts_ms >= b.lo + 2 * b.step THEN l.ts_ms % 1000 END AS audit_seq
FROM latest l, bounds b
"""


@register("lake_schema_evolve", oracle=_SCHEMA_EVOLVE_ORACLE, section="S4,S7")
def lake_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD-COLUMN schema evolution through MERGE: the table is created
    from the changelog's first two thirds on the base schema, then the
    final third arrives carrying a NEW ``audit_seq`` column (the
    classic CDC upstream-ALTER-TABLE event). The merge records the
    widened column list in the commit and never rewrites pre-evolution
    files; the read aligns them by name at the manifest's schema (NULL
    for the new column) before it reduces. The oracle
    recomputes the full latest-per-key state in DuckDB with
    audit_seq = ts_ms % 1000 exactly for rows whose WINNING image came
    from the evolved batch — so both the merge algebra and the
    NULL-for-old-files read semantics are value-checked."""

    def build() -> LakeTable:
        log, parts = _changelog_thirds(spark, sf_dir)
        try:
            t = LakeTable.create(parts[0].unionByName(parts[1]), workspace("lake_evo_"), "key")
            t.merge(
                spark, parts[2].withColumn("audit_seq", (F.col("ts_ms") % 1000).cast("bigint"))
            )
            return t
        finally:
            log.unpersist()

    t = memo(spark, "lake_evo", content_digest([table_path(sf_dir, "orders")]), build)
    return t.read(spark).select(
        "key", "op", "totalprice", "orderstatus", "ts_ms", "audit_seq"
    )


_POINT_LOOKUP_ORACLE = f"""
WITH {CHANGELOG_SQL},
latest AS (
  SELECT key, op, totalprice, orderstatus, ts_ms
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY key
      ORDER BY ts_ms DESC, CASE op WHEN 'd' THEN 2 WHEN 'u' THEN 1 ELSE 0 END DESC,
               COALESCE(totalprice, -1) DESC, COALESCE(orderstatus, '') DESC
    ) AS rn
    FROM changelog
  )
  WHERE rn = 1 AND op <> 'd'
)
SELECT key, op, totalprice, orderstatus, ts_ms
FROM latest
WHERE key IN (SELECT key FROM latest ORDER BY key LIMIT 4)
   OR key IN (SELECT key FROM latest ORDER BY key DESC LIMIT 4)
"""


@register("lake_point_lookup", oracle=_POINT_LOOKUP_ORACLE, section="S5,S7")
def lake_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-store POINT LOOKUP (the HBase get-by-rowkey / Doris
    point-query analogue, S5): fetch a bounded key set from the merged
    lake table by pruning the MANIFEST, not scanning the table — a file
    is read only if some probe key passes both tests: key inside the
    file's [min,max] AND the key's xxhash64 bit set in the file's
    8192-bit Bloom. Base files and deltas are pruned alike, and the
    table's reduction runs over the files that survive (a key's
    tombstone lives in a delta whose stats hold the key, so it is never
    pruned away from the rows it masks). The pruning decision runs on
    stats already in the manifest (one JSON read — zero data I/O for
    pruned files); the probe keys' Bloom bits come from one tiny Spark
    job over the literal key list. Effectiveness (files actually
    skipped) is pytest-asserted; the value contract is the full
    latest-per-key oracle filtered to the probe keys."""
    t = _build_lake(spark, sf_dir)
    m = t.manifest(t.latest_version())
    # the bounded probe set: the 4 smallest + 4 largest current keys
    # (deterministic, hits both ends of the range-sorted file layout;
    # TPC-H orderkeys are residue-sparse so a mod-N probe can be empty)
    cur = t.read(spark).select("key")
    lo = [r["key"] for r in cur.orderBy("key").limit(4).collect()]
    hi = [r["key"] for r in cur.orderBy(F.desc("key")).limit(4).collect()]
    probe_keys = sorted(set(lo + hi))
    kdf = spark.createDataFrame([(k,) for k in probe_keys], "key bigint")
    bits = {
        r["key"]: r["bit"]
        for r in kdf.select("key", _bloom_bit(F.col("key")).alias("bit")).collect()
    }

    probes = [(k, int(_bloom_hex([bits[k]]), 16)) for k in probe_keys]
    hit = [e for e in m["files"] if any(_may_overlap(e, k, k, b) for k, b in probes)]
    assert hit, "probe keys exist, so some file must match"
    return t._state(spark, m, hit).where(F.col("key").isin(probe_keys)).select(
        "key", "op", "totalprice", "orderstatus", "ts_ms"
    )


@register("stream_lake_merge", oracle=_LATEST_ORACLE, section="S4,S7,S11,T5")
def stream_lake_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production serving path end to end: the CDC binlog topic
    consumed through real micro-batches, each committed to the
    lakehouse table as ONE merge-on-read MERGE snapshot — how a
    Structured Streaming job feeds an LSM or lakehouse store
    (foreachBatch + MERGE INTO). The first non-empty batch commits v0;
    an empty one commits nothing. No manifest records the batch id: a
    replayed batch is safe only because this table uses the
    latest-image reduction, under which re-applying a batch is
    idempotent. Each batch is one Spark job that scans its source once
    and writes only the batch; the final read reduces base ∪ deltas and
    carries the full latest-per-key oracle."""
    from ..sources.cdc import cdc_binlog_stream
    from ..session import prepare
    from ..streaming.jobs import run_stream

    prepare(spark)
    table = LakeTable(workspace("lake_stream_"), "key")
    run_stream(
        cdc_binlog_stream(spark, sf_dir)
        .writeStream.outputMode("append")
        .foreachBatch(lambda batch_df, batch_id: table.merge(spark, batch_df)),
        "lake_merge",
    )
    return table.read(spark).select(
        "key", "op", "totalprice", "orderstatus", "ts_ms"
    )


def expire_snapshots(table: LakeTable, keep_last: int = 1) -> dict:
    """VACUUM: drop all but the newest ``keep_last`` snapshots and
    delete data files referenced ONLY by dropped snapshots (reference
    counting over manifests — never by directory listing, so a
    concurrent writer's uncommitted staging files are untouchable).
    Time travel shrinks to the retained window; storage is reclaimed.
    Returns {"kept_versions", "removed_manifests", "removed_files"}.
    Versions an earlier call expired are gone and not counted again."""
    latest = table.latest_version()
    versions = table.versions()
    keep = [v for v in versions if v > latest - keep_last]
    drop = [v for v in versions if v <= latest - keep_last]
    kept_refs = {
        e["path"] for v in keep for e in table.manifest(v)["files"]
    }
    removed_files = 0
    for v in drop:
        for e in table.manifest(v)["files"]:
            if e["path"] not in kept_refs:
                p = os.path.join(table.root, e["path"])
                if os.path.exists(p):
                    os.remove(p)
                    removed_files += 1
    for v in drop:
        os.remove(table._manifest_path(v))
    return {
        "kept_versions": keep,
        "removed_manifests": len(drop),
        "removed_files": removed_files,
    }


def compact_table(table: LakeTable, spark: SparkSession, n_files: int = 4) -> int:
    """OPTIMIZE: the merge's compaction fold over EVERY file of the
    head, base included: its rows are reduced into ``n_files``
    range-sorted base files, committed as a NEW snapshot with the same
    content (the compaction commit every lakehouse format has). Older
    snapshots keep their manifests and files — time travel survives
    until expire_snapshots reclaims them. Returns the new version."""
    return table._compact(spark, n_files, everything=True)


def snapshot_diff(
    table: LakeTable, spark: SparkSession, v_from: int, v_to: int
) -> DataFrame:
    """CDC-OUT of the table (the dynamic-table duality, reversed): the
    row-level changes between two snapshots, computed only for the keys
    of the data files in the manifests' symmetric difference
    (``LakeTable.changed``) — a key no such file holds has the same rows
    at both versions and CANNOT change, so a merge of 2% of the keys
    diffs 2% of the table. Full-outer join of the two pruned sides on
    the merge key yields +I (new key), -D (gone key), or -U/+U pairs
    (changed image) — exactly the retract kinds cdc_retract_stream
    derives from an input changelog, now derived from table state."""
    old, new = table.changed(spark, v_from, v_to)
    key = table.key
    if old is None and new is None:
        raise ValueError("identical snapshots")

    def imaged(df, side):
        return df.select(
            F.col(key).alias(f"{side}_key"),
            F.struct(*[c for c in df.columns if c != key]).alias(side),
        )

    if old is None:
        return new.select(F.col(key), F.lit("+I").alias("kind"))
    if new is None:
        return old.select(F.col(key), F.lit("-D").alias("kind"))
    j = imaged(old, "o").join(
        imaged(new, "n"), F.col("o_key") == F.col("n_key"), "full_outer"
    )
    return j.select(
        F.coalesce("o_key", "n_key").alias(key),
        F.when(F.col("o").isNull(), "+I")
        .when(F.col("n").isNull(), "-D")
        .when(F.col("o") != F.col("n"), "U")  # image changed: -U/+U pair
        .alias("kind"),
    ).filter(F.col("kind").isNotNull())


_SNAPSHOT_DIFF_ORACLE = f"""
WITH {CHANGELOG_SQL},
bounds AS (
  SELECT MIN(ts_ms) AS lo, (MAX(ts_ms) - MIN(ts_ms)) // 3 + 1 AS step FROM changelog
),
s0 AS (
  SELECT key, op, totalprice, orderstatus, ts_ms FROM (
    SELECT c.*, ROW_NUMBER() OVER (
      PARTITION BY key
      ORDER BY ts_ms DESC, CASE op WHEN 'd' THEN 2 WHEN 'u' THEN 1 ELSE 0 END DESC,
               COALESCE(totalprice, -1) DESC, COALESCE(orderstatus, '') DESC
    ) AS rn
    FROM changelog c, bounds b WHERE c.ts_ms < b.lo + b.step
  ) WHERE rn = 1 AND op <> 'd'
),
s2 AS (
  SELECT key, op, totalprice, orderstatus, ts_ms FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY key
      ORDER BY ts_ms DESC, CASE op WHEN 'd' THEN 2 WHEN 'u' THEN 1 ELSE 0 END DESC,
               COALESCE(totalprice, -1) DESC, COALESCE(orderstatus, '') DESC
    ) AS rn
    FROM changelog
  ) WHERE rn = 1 AND op <> 'd'
)
SELECT COALESCE(s0.key, s2.key) AS key,
       CASE WHEN s0.key IS NULL THEN '+I'
            WHEN s2.key IS NULL THEN '-D'
            WHEN s0.op <> s2.op OR s0.totalprice <> s2.totalprice
                 OR s0.orderstatus <> s2.orderstatus OR s0.ts_ms <> s2.ts_ms
              THEN 'U' END AS kind
FROM s0 FULL OUTER JOIN s2 ON s0.key = s2.key
WHERE (CASE WHEN s0.key IS NULL THEN '+I'
            WHEN s2.key IS NULL THEN '-D'
            WHEN s0.op <> s2.op OR s0.totalprice <> s2.totalprice
                 OR s0.orderstatus <> s2.orderstatus OR s0.ts_ms <> s2.ts_ms
              THEN 'U' END) IS NOT NULL
"""


@register("lake_snapshot_diff", oracle=_SNAPSHOT_DIFF_ORACLE, section="S3,S4,S7")
def lake_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-OUT: the row-level changes between lake snapshots v0 and v2,
    computed only for the keys of the two deltas in between (a key they
    do not hold cannot change, so the diff cost scales with what the
    merges wrote, not table size).
    Oracle: independent DuckDB diff of batch-0 state vs full state."""
    t = _build_lake(spark, sf_dir)
    return snapshot_diff(t, spark, 0, t.latest_version())
