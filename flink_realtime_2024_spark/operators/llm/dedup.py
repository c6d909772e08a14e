"""L1 exact deduplication: hash/URL/span-level (ExactSubstr-lite),
winnowing fingerprints, and the PPJoin-shaped exact set-similarity
self-join (prefix filtering).

Split out of operators/llm.py (r13 — the single file reached 4.9k
lines); every public and test-visible name is re-exported by the
package ``__init__`` so ``operators.llm.<name>`` paths are unchanged.
"""


from __future__ import annotations

import numpy as np
import pandas as pd

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import types as T

from ...sources.io import load_table
from ...plans.registry import register
from .._util import widen

from .lsh import jaccard_prefix_len, shingle_str_expr  # noqa: E402


# =============================================================================
# L1 exact dedup
# =============================================================================

_EXACT_ORACLE = """
SELECT md5(text) AS fp,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@register("llm_dedup_exact", oracle=_EXACT_ORACLE, section="L1", bench=True)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 exact dedup by content hash: one hash-groupBy, keeper = min id.
    At 100 TB: the groupBy shuffles 16-byte digests, not documents."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


_FP_ORACLE = """
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g'))) AS fp,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


@register("llm_fingerprint", oracle=_FP_ORACLE, section="L1,L4")
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1/L4 document fingerprinting: normalize (lowercase, strip
    non-alnum, collapse whitespace) then hash — catches trivially-mutated
    duplicates that exact hashing misses."""
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return (
        docs.groupBy(F.md5(normalized).alias("fp"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --- L1/L2 winnowing (rolling-hash) fingerprints ------------------------------------

_WINNOW_K = 7  # char k-gram length
_WINNOW_W = 4  # winnowing window (guarantee: matches >= k+w-1 chars share a fp)
_WINNOW_BASE = np.uint64(257)


def _winnow_fingerprints(text: str) -> np.ndarray:
    """Winnowing (Schleimer et al., SIGMOD'03 — the MOSS algorithm):
    polynomial rolling hashes over char k-grams, then the rightmost
    minimum of each w-window is selected. Any substring match of length
    ≥ k+w-1 is guaranteed to share a selected fingerprint. Vectorized:
    the rolling hash is a sliding-window dot with the base-power vector
    (exact in uint64 — max value ≈ 5e17 < 2^63, no modulus needed)."""
    chars = "".join(c for c in (text or "").lower() if c.isalnum())
    if len(chars) < _WINNOW_K:
        return np.array([], dtype=np.uint64)
    vals = np.frombuffer(chars.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    powers = _WINNOW_BASE ** np.arange(_WINNOW_K - 1, -1, -1, dtype=np.uint64)
    grams = np.lib.stride_tricks.sliding_window_view(vals, _WINNOW_K)
    hashes = grams @ powers
    if len(hashes) <= _WINNOW_W:
        return np.unique(np.array([hashes.min()], dtype=np.uint64))
    wins = np.lib.stride_tricks.sliding_window_view(hashes, _WINNOW_W)
    # rightmost min per window (robust winnowing)
    right_argmin = _WINNOW_W - 1 - np.argmin(wins[:, ::-1], axis=1)
    pos = np.unique(np.arange(len(wins)) + right_argmin)
    return np.unique(hashes[pos])


@F.pandas_udf(T.ArrayType(T.LongType()))
def winnow_fp_array(text: pd.Series) -> pd.Series:
    return pd.Series(
        [_winnow_fingerprints(t).astype(np.int64).tolist() for t in text]
    )


def winnow_pipeline(
    docs: DataFrame, min_overlap: float = 0.5, stage: bool = True
) -> DataFrame:
    """Near-dup pairs by winnowed-fingerprint overlap: one Python
    crossing (the fingerprint kernel), then an inverted index on
    fingerprint with a document-frequency cap (degenerate-collision
    guard, same as the ngram/simhash blockers), pair-count aggregation,
    and an overlap-ratio filter — all JVM-side, no cross join.

    The two fingerprint joins carry explicit MERGE hints (r12): the
    post-explode/post-aggregate cardinality estimates under-read so
    badly that Catalyst statically planned every join here as a
    BroadcastHashJoin at the 10×-replicated corpus — building a
    multi-million-row inverted-index side on the driver heap (OOM'd a
    default-memory JVM; 'Not enough memory to build and broadcast').
    Both sides of these joins scale with the corpus, so sort-merge
    (spillable, shuffle-on-key) is the only plan that survives 100 TB;
    the per-doc totals joins stay AQE-decided (their build side is one
    short row per doc and the estimates there are scan-accurate).

    Memory floor (r13, verdict #1): the per-doc fingerprint frame is
    EAGERLY staged through a DISK_ONLY ``localCheckpoint`` — the same
    idiom as the LSH kernels. Without it the pandas-UDF lineage
    executed THREE times (keys + both self-join sides) and, worse, its
    unspillable Arrow batches shared each task's execution-memory slice
    with the SMJ sort buffers of the downstream joins; at a 1 g default
    JVM × 8 concurrent tasks (~38 MB execution memory per task) that
    overlap made the sfx10 corpus OOM under concurrent-task luck
    (PLANS.md r12 §2b). Staged, the UDF stage and the join stages run
    disjointly and each is individually spillable, so the kernel
    completes deterministically at the 1 g default (recorded sfx10
    evidence in PLANS.md r13). Loop callers should still call
    ``reclaim_checkpoints`` between invocations; on a real cluster
    prefer a parquet stage for the fingerprint frame (localCheckpoint
    blocks die with their executor).

    CONTRACT NOTE: like the LSH kernels (minhash_pairs and family),
    this builder EXECUTES the fingerprint stage at construction time
    and returns a frame whose lineage starts at the checkpoint — plan
    inspection downstream sees the five joins but not the (scan →
    select → pandas-UDF → filter) prologue, which is the full
    pre-checkpoint shape. Pass ``stage=False`` to build the frame
    LAZILY (no eager checkpoint, full lineage visible) — for plan
    inspection / test callers that never execute the result; the
    memory-floor guarantees above do not apply to an unstaged frame
    (advice r13).

    Arrow-batch memory (advice r13, resolved r14): the r13 form
    bracketed the eager staging with a temporary session-global
    ``maxRecordsPerBatch=1024`` — racy for concurrent jobs on the same
    session (they silently ran with tiny batches, and a racing second
    build could clobber a concurrent caller's override). The bracket is
    gone: ``session.prepare`` now pins the BYTES-based input-batch cap
    ``spark.sql.execution.arrow.maxBytesPerBatch=8m`` for the whole
    session, which bounds every pandas-kernel batch at any row width
    (fat text rows included) with no per-job conf mutation — builders
    are thread-safe within a session again."""
    # The memory floor depends on the bytes-based Arrow input cap; a
    # consumer calling this public builder on a session that never went
    # through load_table/prepare() (vanilla session + own parquet)
    # would otherwise run the eager staging job with default ~64 MB
    # batches of fat text rows — the r12 unspillable-allocation OOM
    # class. Idempotent re-assert, not a bracket: set-if-unset only, so
    # an operator-tuned override is respected and nothing is restored
    # (no race with concurrent jobs).
    sess = docs.sparkSession
    cap = "spark.sql.execution.arrow.maxBytesPerBatch"
    if sess.conf.get(cap, None) is None:
        sess.conf.set(cap, "8m")
    fps = widen(docs).select(
        "doc_id", winnow_fp_array("text").alias("fps")
    ).filter(F.size("fps") > 0)
    if stage and not docs.isStreaming:
        # Eager DISK_ONLY staging (r13 memory floor): the pandas-UDF
        # lineage would otherwise execute THREE times (keys + both
        # self-join sides) and its Arrow batches would share each
        # task's execution-memory slice with the downstream SMJ sort
        # buffers. Batch BYTES are bounded session-wide by prepare()'s
        # arrow.maxBytesPerBatch=8m (re-asserted above for
        # never-prepared sessions) — no per-job conf bracket needed.
        fps = fps.localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
    totals = fps.select("doc_id", F.size("fps").alias("n_fps"))
    inv = fps.select("doc_id", F.explode("fps").alias("fp"))
    keys = (
        inv.groupBy("fp").count()
        .filter((F.col("count") > 1) & (F.col("count") <= 256))
        .select("fp")
    )
    cand = inv.join(keys.hint("merge"), "fp")
    pairs = (
        cand.select("fp", F.col("doc_id").alias("doc_a"))
        .join(cand.select("fp", F.col("doc_id").alias("doc_b")).hint("merge"), "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pairs.join(totals.select(F.col("doc_id").alias("doc_a"), F.col("n_fps").alias("na")), "doc_a")
        .join(totals.select(F.col("doc_id").alias("doc_b"), F.col("n_fps").alias("nb")), "doc_b")
        .withColumn("overlap", F.col("n_shared") / F.least("na", "nb"))
        .filter(F.col("overlap") >= min_overlap)
        .select("doc_a", "doc_b", "n_shared", F.round("overlap", 6).alias("overlap"))
    )


# Full-oracle recomputation of the winnowing pipeline in DuckDB SQL.
# Two facts make this expressible (round-7; was rows-only):
# 1. The per-doc FINGERPRINT VALUE SET equals the distinct set of
#    w-window minima: robust winnowing's rightmost-argmin rule only
#    picks WHICH position carries each minimum, and the final
#    np.unique(hashes[pos]) dedups by VALUE — so the position rule
#    cancels out of the registered result.
# 2. The corpus is ASCII (pytest-asserted for every fixture SF in
#    tests/test_semantics.py::test_winnow_oracle_ascii_precondition),
#    so DuckDB's per-character ord(substr(...)) equals the kernel's
#    per-utf-8-byte values and regexp [^a-z0-9] equals Python
#    str.isalnum after lower(). On a non-ASCII corpus the kernel is
#    still correct (utf-8 bytes); only the ORACLE's equality breaks —
#    the test turns that silent false-red risk into a named failure.
# The polynomial powers 257^0..257^6 are written as exact BIGINT
# literals (257^6·122 ≈ 3.5e16 overflows double's 53-bit mantissa —
# integer arithmetic is mandatory, same reason the kernel uses uint64).
_WINNOW_POWS = [257**p for p in range(_WINNOW_K - 1, -1, -1)]
_WINNOW_ORACLE = f"""
WITH cleaned AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
  FROM documents
),
docs AS (
  SELECT doc_id, s, length(s) - {_WINNOW_K - 1} AS n
  FROM cleaned WHERE length(s) >= {_WINNOW_K}
),
positions AS (
  SELECT doc_id, n, s, unnest(range(1, n + 1)) AS i FROM docs
),
grams AS (
  SELECT doc_id, n, i - 1 AS pos,
         ({" + ".join(f"ord(substr(s, i + {j}, 1)) * {p}" for j, p in enumerate(_WINNOW_POWS))})::BIGINT AS h
  FROM positions
),
fps AS (
  -- short docs (n <= w): single global minimum
  SELECT doc_id, MIN(h) AS fp FROM grams WHERE n <= {_WINNOW_W} GROUP BY doc_id
  UNION
  -- long docs: distinct minima of every complete w-window
  SELECT DISTINCT doc_id, m AS fp FROM (
    SELECT doc_id, pos, n,
           MIN(h) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING
           ) AS m
    FROM grams WHERE n > {_WINNOW_W}
  ) WHERE pos <= n - {_WINNOW_W}
),
tot AS (SELECT doc_id, COUNT(*) AS n_fps FROM fps GROUP BY doc_id),
keys AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > 1 AND COUNT(*) <= 256
),
cand AS (SELECT f.doc_id, f.fp FROM fps f JOIN keys USING (fp)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM cand a JOIN cand b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.n_shared,
       ROUND(p.n_shared::DOUBLE / LEAST(ta.n_fps, tb.n_fps), 6) AS overlap
FROM pairs p
JOIN tot ta ON ta.doc_id = p.doc_a
JOIN tot tb ON tb.doc_id = p.doc_b
WHERE p.n_shared::DOUBLE / LEAST(ta.n_fps, tb.n_fps) >= 0.5
"""


@register("llm_winnow_fingerprint", oracle=_WINNOW_ORACLE, section="L1,L2", reverify=7)
def llm_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1/L2 rolling-hash document fingerprinting (winnowing): near-dup
    pairs whose selected-fingerprint overlap ≥ 0.5. FULL ORACLE
    (round-7, was rows-only): the value-set-equals-window-minima
    identity makes the whole pipeline SQL-expressible — see
    _WINNOW_ORACLE. Precondition for byte/char hash equality: ASCII
    corpus (holds for every /root/testdata documents table; the
    kernel itself handles unicode via utf-8 bytes)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_pipeline(docs, min_overlap=0.5)


# =============================================================================
# L1 URL-canonicalization dedup (pretraining crawl hygiene)
# =============================================================================

_URL_DEDUP_ORACLE = """
WITH u AS (
  SELECT doc_id,
         'https://www.' || source || '.example.com/articles/'
           || CAST(doc_id % 50 AS VARCHAR) || '/?utm_source=feed&ref='
           || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), canon AS (
  SELECT doc_id, url,
         regexp_replace(
           regexp_replace(
             regexp_replace(lower(url), '^https?://(www\\.)?', ''),
             '[?#].*$', ''),
           '/+$', '') AS canonical_url
  FROM u
)
SELECT doc_id, canonical_url,
       CAST(doc_id = MIN(doc_id) OVER (PARTITION BY canonical_url) AS INTEGER) AS keep
FROM canon
"""


@register("llm_dedup_url", oracle=_URL_DEDUP_ORACLE, section="L1")
def llm_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 crawl hygiene: URL canonicalization + dedup — the FIRST dedup
    pass every pretraining crawl pipeline runs (cheaper than any
    content hash: the same page fetched via http/https, with/without
    www, with tracking params, or with a trailing slash is one
    document). Canonicalize = lowercase, strip scheme + www, drop
    query/fragment, trim trailing slashes; keep the smallest doc_id per
    canonical URL. Pure JVM regexp — zero Python; the shuffle carries
    (doc_id, canonical-url) pairs only, never page content. (The URL
    column is synthesized deterministically from doc_id/source — the
    fixture set has no crawl metadata — so DuckDB reproduces it exactly
    and the whole canonicalize→group→keep-first path is hash-checked.)"""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://www."),
        F.col("source"),
        F.lit(".example.com/articles/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("/?utm_source=feed&ref="),
        F.col("doc_id").cast("string"),
    )
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(url), r"^https?://(www\.)?", ""),
            r"[?#].*$",
            "",
        ),
        r"/+$",
        "",
    )
    w = Window.partitionBy("canonical_url")
    return (
        docs.select("doc_id", canonical.alias("canonical_url"))
        .withColumn(
            "keep", (F.col("doc_id") == F.min("doc_id").over(w)).cast("int")
        )
        .select("doc_id", "canonical_url", "keep")
    )


# =============================================================================
# L1 exact-substring duplication profile (ExactSubstr-lite; Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better" — the span-level
# complement to document-level dedup)
# =============================================================================

_SPAN_W = 32  # window length (chars)
_SPAN_STRIDE = 16  # window stride

_SPAN_DEDUP_ORACLE = f"""
WITH w AS (
  SELECT d.doc_id,
         md5(substr(d.text, s.pos, {_SPAN_W})) AS h
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(1, len(d.text) - {_SPAN_W} + 1,
                                              {_SPAN_STRIDE})) AS pos) s
  WHERE len(d.text) >= {_SPAN_W}
), per_hash AS (
  SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM w GROUP BY h
), flagged AS (
  SELECT w.doc_id, w.h, per_hash.n_docs > 1 AS dup
  FROM w JOIN per_hash USING (h)
)
SELECT doc_id,
       COUNT(*) AS n_windows,
       CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
       CAST(ROUND(SUM(CASE WHEN dup THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
            AS DOUBLE) AS dup_frac
FROM flagged GROUP BY doc_id
"""


@register("llm_dedup_spans", oracle=_SPAN_DEDUP_ORACLE, section="L1,L2")
def llm_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1/L2 span-level duplication profile (ExactSubstr-lite): slide a
    {W}-char window at stride {S} over every document, fingerprint each
    window (md5 — shared with DuckDB so the oracle is exact), and count
    per document how many windows also occur verbatim in ANOTHER
    document. The per-doc dup_frac is the removal signal span-level
    dedup acts on — boilerplate headers, license blocks, and templated
    paragraphs light up even when whole-document hashes differ.

    Scale shape: windows are generated with JVM sequence/transform
    (zero Python); only (digest, doc_id) pairs shuffle — never text —
    and the per-digest doc count is a two-phase aggregate. At 100 TB
    the digest table is the working set, ~text_bytes/stride rows of
    ~48 B, the same inverted-index shape as the winnowing index."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= _SPAN_W
    )
    windows = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.length("text") - _SPAN_W + 1,
                    F.lit(_SPAN_STRIDE),
                ),
                lambda pos: F.md5(F.substring(F.col("text"), pos, _SPAN_W)),
            )
        ).alias("h"),
    )
    per_hash = windows.groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    flagged = windows.join(per_hash, "h").select(
        "doc_id", (F.col("n_docs") > 1).alias("dup")
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.col("dup").cast("int")).cast("bigint").alias("n_dup_windows"),
        F.round(
            F.sum(F.col("dup").cast("int")) / F.count(F.lit(1)), 4
        ).cast("double").alias("dup_frac"),
    )


# =============================================================================
# L2 EXACT set-similarity self-join (prefix filtering, PPJoin-shaped)
# =============================================================================

_PREFIX_FILTER_ORACLE = """
WITH sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_sort(list_distinct(list_transform(
                     range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
              ELSE [array_to_string(toks, ' ')]
         END AS sh
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
    FROM documents
  )
), pairs AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT doc_id_a, doc_id_b, CAST(ROUND(j, 4) AS DOUBLE) AS jaccard
FROM pairs WHERE j >= 0.5
"""


@register(
    "llm_dedup_prefix_filter", oracle=_PREFIX_FILTER_ORACLE, section="L2", bench=True
)
def llm_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 EXACT near-dup pair detection at Jaccard ≥ 0.5 — the
    recall-guaranteed counterpart to `llm_dedup_minhash`: PREFIX
    FILTERING (SSJoin, Chaudhuri et al. ICDE'06; PPJoin, Xiao et al.
    WWW'08). Every J≥0.5 pair must share a token within the first
    ⌊s/2⌋+1 elements of each document's shingle set under ANY shared
    total token order (`jaccard_prefix_len`), so an equi-join on
    prefix tokens + an exact JVM Jaccard verify returns the exact
    all-pairs answer — which is precisely what the DuckDB oracle
    brute-forces. The first dedup id in the family with a FULL value
    oracle (minhash/simhash are probabilistic, rows-only).

    Scale shape (the part PPJoin adds over naive prefix filter):
    tokens are globally ordered by ASCENDING DOCUMENT FREQUENCY — one
    aggregate over the exploded shingles — so each document's prefix
    holds its RAREST shingles and hot-token buckets are structurally
    tiny (stop-word-grade shingles never reach a prefix). Candidate
    generation is Σ_token df_prefix(token)², bounded by rare tokens,
    never the n² cross join; the verify is array_intersect/union on
    pre-shingled arrays. The df order is a pure function of the corpus
    (ties broken by token string), so the plan is deterministic.
    Everything is JVM expressions — zero Python crossings. widen():
    the fixture is one parquet file = one scan task, which would
    serialize the (JVM but CPU-heavy) shingling; real tables get this
    parallelism from their file count.

    HONEST BOUND (why this is not in the replicated scaling probe):
    exact pair ENUMERATION is Ω(output) = Ω(Σ_group |group|²) — a
    corpus where whole documents recur k times contains k²/2 true
    pairs per original, and NO exact algorithm can emit fewer rows.
    Prefix filtering bounds the candidate overhead, not that output.
    The 100 TB recipe is therefore: llm_dedup_exact (hash) first to
    collapse identical replicas, this operator for the near-dup tail;
    or accept capped recall via llm_dedup_minhash's 64-doc buckets
    when group sizes are unbounded."""
    docs = (
        widen(load_table(spark, sf_dir, "documents"))
        .select("doc_id", shingle_str_expr("text").alias("sh"))
        # pin: the ordered-reassembly job consumes the shingles on BOTH
        # sides of the df join (probe + aggregate) — shingle once.
        # LAZY (r14 opt): the first consumer's stage materializes the
        # blocks; an eager checkpoint here was an extra full job whose
        # only effect was fronting that materialization.
        .localCheckpoint(eager=False)
    )
    toks = docs.select("doc_id", F.explode("sh").alias("tok"))
    df_order = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # re-assemble each doc's shingles ordered by (df asc, tok) — the
    # global rarity order both prefixes must share
    ordered = (
        toks.join(df_order, "tok")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("sh")
        )
    )
    # hashed twin of the shingle set: candidate verification compares
    # array<long> (one word per shingle) instead of array<string> —
    # measured 3.5× cheaper through the two re-joins + intersect/union.
    # The ≥0.5 FILTER runs on hashes; survivors (a few hundred rows)
    # re-verify on the exact strings, so a 64-bit collision can at
    # worst promote a candidate into the exact re-check, never corrupt
    # the output
    ordered = ordered.withColumn(
        "shh", F.array_sort(F.transform("sh", lambda x: F.xxhash64(x)))
    ).localCheckpoint()  # consumed 5× below — scan once. EAGER on
    # purpose: the five consumers fan out as concurrently-launched
    # stages, and a lazy checkpoint only dedupes their computation
    # through same-executor block locks — on a cluster two executors
    # would each build it. Eager = one job, then everyone reads blocks.
    # (The docs checkpoint above stays lazy because this very job is
    # its only consumer.)
    # prefix rows carry ONLY (doc_id, sz, pos, tok): exploding the full
    # shingle array alongside would multiply every row by ~prefix_len ×
    # |sh|; arrays re-join from the pinned `ordered`. No distinct() on
    # raw candidates either — multi-token collisions are ~5% here,
    # cheaper to verify twice than to shuffle the whole candidate set
    # again. ``sz``/``pos`` power PPJoin's LENGTH and POSITION filters
    # (Xiao et al. WWW'08 §3, r14 opt): two ints per row prune
    # candidates BEFORE any shingle array is shuffled or intersected —
    # on the tiny-vocab fixture corpus (hot prefix tokens) this cuts
    # the verify-join input ~17× (430k -> 25k candidate rows at sf0.1).
    # candidates join on the TOKEN'S 64-BIT HASH, not the shingle string
    # (r15, guide §2.3 "narrower types"): the prefix rows are the bulk
    # of the self-join's shuffle, and an 8-byte long halves the row vs
    # a ~20-30-byte shingle (and compares cheaper inside the join). A
    # hash collision can only ADD a false candidate — same string always
    # hashes equal, so no true pair is lost — and every candidate passes
    # the exact hashed-array filter + exact string verify below.
    pref = ordered.select(
        "doc_id",
        F.size("sh").alias("sz"),
        F.posexplode(
            F.slice("sh", F.lit(1), jaccard_prefix_len(F.size("sh")))
        ).alias("pos", "tok"),
    ).select("doc_id", "sz", "pos", F.xxhash64("tok").alias("tk"))
    pa = pref.select(
        F.col("doc_id").alias("doc_id_a"), F.col("sz").alias("sz_a"),
        F.col("pos").alias("pos_a"), "tk",
    )
    pb = pref.select(
        F.col("doc_id").alias("doc_id_b"), F.col("sz").alias("sz_b"),
        F.col("pos").alias("pos_b"), "tk",
    )
    # LENGTH filter: J >= 0.5 forces min(sz)/max(sz) >= 0.5 (intersect
    # <= min, union >= max). POSITION filter: for a pair's FIRST common
    # token — which for any true pair lies inside both prefixes (the
    # prefix-filter pigeonhole) — overlap <= 1 + min(remaining suffix
    # lengths); J >= 0.5 needs overlap >= (sz_a+sz_b)/3, so a pair
    # where EVERY emitted occurrence fails the bound cannot reach 0.5.
    # Both tests are conservative (keep-more): a kept false candidate
    # just pays the exact verify below, never corrupts the output.
    remain = F.lit(1) + F.least(
        F.col("sz_a") - F.col("pos_a") - 1, F.col("sz_b") - F.col("pos_b") - 1
    )
    jh = (
        F.size(F.array_intersect("ha", "hb")).cast("double")
        / F.size(F.array_union("ha", "hb")).cast("double")
    )
    survivors = (
        pa.join(pb, "tk")
        .where(
            (F.col("doc_id_a") < F.col("doc_id_b"))
            & (F.least("sz_a", "sz_b") * 2 >= F.greatest("sz_a", "sz_b"))
            & (remain * 3 >= F.col("sz_a") + F.col("sz_b"))
        )
        .select("doc_id_a", "doc_id_b")
        .join(ordered.select(F.col("doc_id").alias("doc_id_a"), F.col("shh").alias("ha")), "doc_id_a")
        .join(ordered.select(F.col("doc_id").alias("doc_id_b"), F.col("shh").alias("hb")), "doc_id_b")
        .where(jh >= 0.5)
        .select("doc_id_a", "doc_id_b")
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    j = (
        F.size(F.array_intersect("sha", "shb")).cast("double")
        / F.size(F.array_union("sha", "shb")).cast("double")
    )
    return (
        survivors.join(
            ordered.select(F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sha")),
            "doc_id_a",
        )
        .join(
            ordered.select(F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("shb")),
            "doc_id_b",
        )
        .withColumn("j", j)
        .where(F.col("j") >= 0.5)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round("j", 4).cast("double").alias("jaccard"),
        )
    )


