"""Library-consumability contract (r9 verdict #5): everything in
``flink_realtime_2024_spark.__all__`` must work on ARBITRARY user data,
imported from the package root only — no fixture tables, no registry
builders, no deep submodule paths. This file writes its own parquet and
touches nothing under /root/testdata except through the conftest-shared
SparkSession."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

# the one rule of this file: import ONLY the curated public surface
from flink_realtime_2024_spark import (
    __all__ as PUBLIC_ALL,
    connected_components,
    decode_audio,
    decode_image,
    detect_hot_keys,
    encode_bmp,
    encode_wav,
    minhash_pairs,
    reclaim_checkpoints,
    salted_join_targeted,
    simhash64,
    simhash_pairs,
    winnow_pipeline,
)


def test_all_names_resolve():
    """__all__ is a promise: every listed name imports from the root."""
    import flink_realtime_2024_spark as pkg

    for name in PUBLIC_ALL:
        assert getattr(pkg, name, None) is not None, name


def _user_docs(spark, tmp_path):
    """User-shaped corpus written to user-owned parquet: two obvious
    near-dup pairs, plus unrelated filler docs."""
    base = (
        "the quick brown fox jumps over the lazy dog and then naps under "
        "the old oak tree while the farmer counts sheep in the meadow"
    )
    rows = [
        (1, base),
        (2, base),  # exact dup of 1: inside every detector's reach
                    # (minhash jaccard 1.0, simhash hamming 0)
        (3, "completely different text about spark shuffle partitioning "
            "and adaptive query execution at terabyte scale"),
        (4, "completely different text about spark shuffle partitioning "
            "and adaptive query execution at petabyte scale"),
        (5, "a one-off short row"),
        (6, "unrelated musings on parquet row groups and column pruning "
            "strategies for wide analytical tables in modern engines"),
    ]
    path = str(tmp_path / "user_docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    return spark.read.parquet(path)


def test_minhash_pairs_on_user_parquet(spark, tmp_path):
    docs = _user_docs(spark, tmp_path)
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_pairs(docs).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 0.5
    assert (3, 4) in got
    assert all(a < b for a, b in got)


def test_reclaim_checkpoints_bounds_looped_kernel_blocks(spark, tmp_path):
    """r12 (verdict #4): a consumer LOOPING a dedup kernel must be able
    to keep the block manager flat — each minhash_pairs call leaves one
    eager DISK_ONLY localCheckpoint RDD behind, freed only after the
    driver reference is GC'd. Loop the kernel, drop the references,
    call reclaim_checkpoints, and assert every persistent RDD the loop
    created is gone (ContextCleaner is async, so poll).

    Assertions track the loop's OWN RDD ids, not the registry SIZE:
    the size-based form flaked twice on a loaded box — checkpoints an
    earlier test left dying kept draining between the base read and
    the grown read, so "base" was stale the moment it was taken.
    Id-set deltas are immune to concurrent drain in either phase.

    The probe reads the keys of SparkContext's weak-valued registry
    itself. ``getPersistentRDDs()`` returns a strong copy whose py4j
    handle outlives the call until py4j's finalizer thread (1 s period)
    releases it, so each poll pinned the very RDDs it waited on:
    reclamation took 7-34 s instead of ~1 s, and over 90 s on a busy
    host."""
    import time

    docs = _user_docs(spark, tmp_path)

    def persistent_ids():
        keys = spark.sparkContext._jsc.sc().persistentRdds().keys()
        return {int(k) for k in keys.mkString(",").split(",") if k}

    ids_before = persistent_ids()
    # HOLD the returned frames during the loop: CPython refcounting
    # would otherwise free each py4j reference the moment the iteration
    # ends, letting the ContextCleaner drain "dead" checkpoints before
    # the grown read. Keeping the refs makes the grow phase
    # deterministic.
    held = [minhash_pairs(docs) for _ in range(4)]
    for df in held:
        df.count()
    loop_ids = persistent_ids() - ids_before
    assert loop_ids, "loop did not materialize checkpoint RDDs (test vacuous)"
    del held, df
    reclaim_checkpoints(spark)
    deadline = time.time() + 90
    while persistent_ids() & loop_ids and time.time() < deadline:
        time.sleep(0.5)
        reclaim_checkpoints(spark)
    leaked = persistent_ids() & loop_ids
    assert not leaked, f"dead checkpoint blocks not reclaimed: rdd ids {leaked}"


def test_simhash_pairs_schemes_agree_on_user_parquet(spark, tmp_path):
    docs = _user_docs(spark, tmp_path)
    default = {tuple(r) for r in simhash_pairs(docs).collect()}
    cheap = {tuple(r) for r in simhash_pairs(docs, scheme="b5k2").collect()}
    assert default == cheap
    assert {(a, b) for a, b, _ in default} >= {(1, 2)}


def test_winnow_and_components_on_user_parquet(spark, tmp_path):
    docs = _user_docs(spark, tmp_path)
    pairs = winnow_pipeline(docs).select("doc_a", "doc_b")
    clusters = connected_components(pairs, "doc_a", "doc_b")
    by_id = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    # the exact-dup pair MUST be found and co-clustered — an
    # unconditional contract, not an if-found check (a vacuous pass
    # here would leave the winnow public path untested)
    assert 1 in by_id and 2 in by_id, sorted(by_id)
    assert by_id[1] == by_id[2]


def test_simhash64_is_a_plain_column_expr(spark, tmp_path):
    docs = _user_docs(spark, tmp_path)
    fps = docs.select("doc_id", simhash64("text").alias("fp")).collect()
    assert len(fps) == docs.count()
    assert all(isinstance(r["fp"], int) for r in fps)


def test_salted_join_targeted_equals_plain_on_user_data(spark):
    # left: skewed fact (key 7 owns half the rows); right: small dim
    left = spark.range(0, 2000).select(
        F.when(F.col("id") % 2 == 0, F.lit(7))
        .otherwise(F.col("id") % 50)
        .alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(0, 50).select(
        F.col("id").alias("rk"), (F.col("id") * 10).alias("w")
    )
    hot = detect_hot_keys(left, "k", sample_fraction=1.0, min_sampled_rows=100)
    assert 7 in hot
    plain = left.join(right, F.col("k") == F.col("rk")).groupBy("k").agg(
        F.count("*").alias("n"), F.sum("w").alias("sw")
    )
    salted = salted_join_targeted(
        left, right, "k", "rk", n_salts=8, hot_keys=hot
    ).groupBy("k").agg(F.count("*").alias("n"), F.sum("w").alias("sw"))
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_codec_kernels_round_trip():
    px = (np.arange(12 * 10 * 3, dtype=np.int64) % 256).reshape(10, 12, 3)
    img = decode_image(encode_bmp(px))
    assert (img["width"], img["height"]) == (12, 10)
    assert img["value_count"] == 12 * 10 * 3
    assert img["mean_value"] == img["value_sum"] / img["value_count"]
    samples = (np.arange(800, dtype=np.int64) % 2048) - 1024
    aud = decode_audio(encode_wav(samples, rate=8000))
    assert aud["value_count"] == 800 and aud["sample_rate"] == 8000
    assert aud["duration_ms"] == 100.0
