"""Table maintenance: small-file compaction (SURVEY §2.1 S7/S8 ops layer).

Streaming sinks (foreachBatch parquet appends, micro-batch = file) and
dynamic-partition loads accrete small files; at 100 TB scan efficiency
dies by a thousand 2 MB files (driver listing cost, one task per file,
no row-group locality). The reference stack delegates this to Doris
compaction — a Spark-native table needs its own pass.

Design: per-directory rewrite sized by actual bytes, written to a
staging dir and swapped in by two renames. The swap is NOT atomic:
between retiring the old dir and renaming the staging dir into place
the path does not exist, and a crash there leaves the table only at
``<path>.compact_bak`` (see ``compact_parquet``). ROADMAP direction 4
replaces this swap with the shared commit primitive. At 100 TB you run
this per partition directory (hence the single-dir contract) — each
partition compacts independently and in parallel from a scheduler.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def parquet_dir_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet directory."""
    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    return len(files), sum(os.path.getsize(f) for f in files)


def compact_parquet(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Rewrite a parquet directory into ceil(bytes/target) files.

    Returns {"files_before", "files_after", "bytes", "rows"}. The new
    file set is staged next to `path` on the same filesystem; the old
    set is renamed to `<path>.compact_bak`, the staging dir is renamed
    to `path`, and the .bak dir is removed only after that succeeds.
    Each rename is atomic, the pair is not: between them `path` does
    not exist, so a reader there fails, and a crash there leaves the
    table only at `<path>.compact_bak`."""
    n_before, total_bytes = parquet_dir_stats(path)
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))

    df = spark.read.parquet(path)
    rows = df.count()

    parent = os.path.dirname(os.path.abspath(path))
    staging = tempfile.mkdtemp(prefix=".compact_staging_", dir=parent)
    # coalesce, not repartition: compaction must not pay a shuffle —
    # it only narrows the file count
    df.coalesce(n_out).write.mode("overwrite").parquet(staging)

    bak = path.rstrip("/") + ".compact_bak"
    os.rename(path, bak)
    try:
        os.rename(staging, path)
    except OSError:
        os.rename(bak, path)  # roll back; leave staging for inspection
        raise
    shutil.rmtree(bak)

    n_after, _ = parquet_dir_stats(path)
    return {
        "files_before": n_before,
        "files_after": n_after,
        "bytes": total_bytes,
        "rows": rows,
    }
