"""L2 near-duplicate detection: MinHash + LSH banding, exact n-gram
Jaccard, SimHash, connected-components dedup clustering, and
deletion-neighborhood fuzzy entity matching.

Split out of operators/llm.py (r13 — the single file reached 4.9k
lines); every public and test-visible name is re-exported by the
package ``__init__`` so ``operators.llm.<name>`` paths are unchanged.
"""


from __future__ import annotations

import re

import numpy as np
import pandas as pd

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import types as T

from ...sources.io import load_table
from ...plans.registry import register
from .._util import widen

from .text import llm_quality_gopher  # noqa: E402


# =============================================================================
# L2 near-dup: MinHash + LSH banding
# =============================================================================

_MERSENNE = (1 << 61) - 1
_N_HASHES = 64
_N_BANDS = 16  # 16 bands x 4 rows: catches jaccard >~ 0.5 reliably
_ROWS_PER_BAND = _N_HASHES // _N_BANDS


# THE pinned tokenizer split — single-sourced for every Python-side
# hasher (_shingle_hashes, simhash64); the SQL oracles embed the same
# class literally, and tests/test_semantics.py::
# test_oracle_primitives_cross_engine pins the two sides to each other.
_ASCII_WS = re.compile(r"[ \t\n\r\f\v]+")


def _shingle_hashes(text: str, k: int = 3) -> np.ndarray:
    """k-token shingles → stable uint64 hashes (first 8 md5 bytes,
    big-endian; fixed, interpreter-independent — never Python's salted
    hash()). r9: md5 replaced crc32 and the tokenizer was pinned to an
    explicit ASCII-whitespace split so the llm_dedup_minhash DuckDB
    oracle can re-derive every hash (md5 is a SQL builtin; crc32 is
    not, and str.split()'s unicode whitespace set is not a SQL regex).
    md5 itself hashes utf-8 bytes identically in both engines, so the
    HASHING step needs no ASCII-corpus precondition — but the lower()
    that precedes it still does: Python str.lower() and DuckDB lower()
    diverge on some non-ASCII codepoints (e.g. U+0130 lowercases to two
    codepoints in Python), so full oracle parity shares the winnow
    oracle's ASCII-corpus precondition
    (tests/test_semantics.py::test_winnow_oracle_ascii_precondition)."""
    import hashlib

    toks = [t for t in _ASCII_WS.split(text.lower()) if t]
    if len(toks) < k:
        shingles = [" ".join(toks)] if toks else [""]
    else:
        shingles = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    return np.unique(
        np.array(
            [
                int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
                for s in shingles
            ],
            dtype=np.uint64,
        )
    )


_rng = np.random.RandomState(42)
_MH_A = _rng.randint(1, _MERSENNE, size=_N_HASHES, dtype=np.int64).astype(np.uint64)
_MH_B = _rng.randint(0, _MERSENNE, size=_N_HASHES, dtype=np.int64).astype(np.uint64)


@F.pandas_udf(T.ArrayType(T.LongType()))
def shingle_hash_array(text: pd.Series) -> pd.Series:
    """Per-document sorted unique shingle hashes (the signature store
    column), computed in Python. Since r12 the minhash kernel uses the
    bit-identical pure-JVM twin ``shingle_hash_expr`` instead (measured
    ~0.5 s of Arrow crossing per sf0.1 call); this UDF remains the
    exported reference implementation and the lockstep-test anchor
    (tests/test_semantics.py::test_shingle_hash_expr_matches_udf)."""
    return pd.Series(
        [_shingle_hashes(t or "").astype(np.int64).tolist() for t in text]
    )


# int64 sign bit — XOR with it maps unsigned 64-bit order onto signed
# order bijectively, so an UNSIGNED array sort is expressible as
# flip → array_sort (signed) → flip.
_I64_SIGN = -(2**63)


def shingle_hash_expr(col) -> "F.Column":
    """Pure-JVM twin of ``shingle_hash_array`` — BIT-IDENTICAL output
    (pinned by tests/test_semantics.py::test_shingle_hash_expr_matches_udf
    on the fixtures, and by the hypothesis sweep
    tests/test_properties.py::test_shingle_hash_expr_udf_lockstep_on_unicode
    over arbitrary unicode incl. the İ/ß/ς case-mapping specials,
    combining marks, astral plane, and exotic whitespace — the two
    sides implement lower()/tokenize/utf-8/md5 independently, and the
    sweep found no divergent class), zero Python crossings (r12,
    VERDICT r11 #1: the shingle-hash pandas UDF was 0.56 s of
    llm_dedup_minhash's 1.6 s sf0.1 wall).

    Per shingle string s (from ``shingle_str_expr``): md5(s) is a JVM
    builtin over the same utf-8 bytes as Python's hashlib; the first 16
    hex digits parse to the uint64 in TWO HALVES — ``conv`` parses into
    signed 64-bit, which 16 hex digits can overflow, but each 8-digit
    half fits — recombined as ``shiftleft(hi, 32) | lo`` (bitwise ops,
    exempt from ANSI overflow checks), which is exactly the int64
    two's-complement view the UDF stores. Dedup runs on the HASHES
    (matching np.unique; string-level distinct would keep both sides of
    a truncated-md5 collision), and the sort replays numpy's UNSIGNED
    order via the sign-bit-flip trick above.

    The banding UDF (``minhash_bands_from_hashes``) deliberately stays
    in Python: its permutation arithmetic needs uint64 WRAP multiply
    ((a*h) mod 2^64), and ANSI mode — the driver session default —
    overflow-throws on long ``*`` with no wrapping builtin; a 16-bit
    limb decomposition would need wrap ADDS too. numpy's vectorized
    matrix op over the already-hashed arrays is the right tool there.

    COMPOSITION PITFALL (Spark 4.1, found landing this): an expression
    containing a HIGHER-ORDER-FUNCTION lambda (this one, or any
    transform/filter/aggregate) must not feed a pandas UDF argument
    directly — ExtractPythonUDFs fails to pull such a UDF into an
    ArrowEvalPython node, and InferFiltersFromGenerate then clones the
    raw (Unevaluable) PythonUDF into a Filter that dies at runtime
    with INTERNAL_ERROR "Cannot evaluate expression". Isolated to the
    lambda alone: a plain-attribute or lambda-free-expression argument
    extracts fine. Materialize this column across a persist()/
    localCheckpoint() barrier before handing it to a pandas UDF — the
    minhash kernel's persisted signature store is exactly that."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))

    def h(g):
        hx = F.md5(g)
        hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
        return F.shiftleft(hi, 32).bitwiseOR(lo)

    hashed = F.array_distinct(F.transform(shingle_str_expr(c), h))
    flipped = F.array_sort(
        F.transform(hashed, lambda x: x.bitwiseXOR(F.lit(_I64_SIGN)))
    )
    return F.transform(flipped, lambda x: x.bitwiseXOR(F.lit(_I64_SIGN)))


def shingle_str_expr(col) -> "F.Column":
    """Pure-JVM 3-token word shingles: sorted distinct array of
    space-joined trigrams of the lowercased whitespace tokens (the
    string twin of ``_shingle_hashes`` — same tokenization, no hashing,
    no Python). Documents shorter than 3 tokens shingle to the single
    joined-token string, mirroring the kernel's fallback.

    The token array is BOUND AS A LAMBDA VARIABLE (transform over a
    1-element array) before any indexing: Catalyst inlines plain
    subexpression references, so writing element_at(split(...), i)
    directly would re-run the regex split for every one of the ~3·|sh|
    element_at calls per row — measured 20× slower on real documents.
    A lambda variable is evaluated once per row by construction."""
    c = F.col(col) if isinstance(col, str) else col
    raw = F.filter(F.split(F.lower(c), r"\s+"), lambda x: x != "")

    def build(toks):
        n = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(n - F.lit(2), F.lit(1))),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        )
        return F.when(n >= 3, grams).otherwise(F.array(F.array_join(toks, " ")))

    sh = F.element_at(F.transform(F.array(raw), build), 1)
    return F.array_sort(F.array_distinct(sh))


def jaccard_prefix_len(set_size, threshold: float = 0.5) -> "F.Column":
    """Prefix-filter length for Jaccard ≥ t (Chaudhuri et al. SSJoin /
    Bayardo et al. WWW'07): p(X) = |X| − ⌈t·|X|⌉ + 1. Two sets with
    J(A,B) ≥ t share ≥ ⌈t·max(|A|,|B|)⌉ elements, so under ANY shared
    total order of tokens they MUST collide within their first p
    elements — exact recall, unlike LSH banding. For t = 0.5 this is
    ⌊|X|/2⌋ + 1."""
    t_num, t_den = (int(threshold * 1000), 1000)
    # ceil(t*s) with integer math: (s*t_num + t_den - 1) div t_den
    s = set_size.cast("bigint")
    ceil_ts = F.floor((s * t_num + (t_den - 1)) / t_den).cast("bigint")
    return (s - ceil_ts + 1).cast("int")


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("bands", T.ArrayType(T.LongType())),
            T.StructField("sig", T.StringType()),
        ]
    )
)
def minhash_bands_from_hashes(sh: pd.Series) -> pd.DataFrame:
    """64 minhashes → (16 band hashes, full-signature md5) from
    precomputed shingle hashes (pure numpy — no string work beyond the
    one md5 per doc).

    ``sig`` (r11) is md5 of the comma-joined 64 minima in permutation
    order — an engine-portable similarity-adjacency key for the
    oversized-bucket chain: docs with IDENTICAL full signatures sort
    adjacent, so an accidental mega bucket that interleaves two exact
    duplicate families chains each family contiguously instead of
    emitting only cross-family links that the Jaccard verify then
    prunes (r10 advice). DuckDB re-derives the same value as
    ``md5(string_agg(mn::VARCHAR, ',' ORDER BY hi))``.

    Fully vectorized across the Arrow batch: all documents' shingle
    hashes are concatenated, the 64 permutations applied as one matrix
    op, and per-document minima taken with ``np.minimum.reduceat`` —
    chunked to bound the (64 × total_shingles) intermediate."""
    import hashlib
    import zlib

    bands_out: list[list[int]] = []
    sig_out: list[str] = []
    chunk = 512  # docs per matrix — caps the intermediate at ~40 MB
    vals = sh.tolist()
    for lo in range(0, len(vals), chunk):
        # hashes ≥ 2^63 round-trip the LongType signature store as
        # negative ints — reinterpret the int64 bits as uint64 EXPLICITLY
        # (NumPy ≥ 2.0 rejects out-of-range Python ints for uint64 casts)
        seg = [
            np.asarray(h, dtype=np.int64).view(np.uint64)
            for h in vals[lo : lo + chunk]
        ]
        if not seg:
            continue
        lengths = np.array([len(h) for h in seg])
        H = np.concatenate(seg)
        M = (_MH_A[:, None] * H[None, :] + _MH_B[:, None]) % _MERSENNE
        starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
        mins = np.minimum.reduceat(M, starts, axis=1)  # (64, n_docs)
        for i in range(len(seg)):
            col = mins[:, i]
            bands = col.reshape(_N_BANDS, _ROWS_PER_BAND)
            bands_out.append(
                [zlib.crc32(np.ascontiguousarray(b).tobytes()) for b in bands]
            )
            sig_out.append(
                hashlib.md5(
                    ",".join(str(int(v)) for v in col).encode()
                ).hexdigest()
            )
    return pd.DataFrame({"bands": bands_out, "sig": sig_out})


# 61-bit hex → HUGEINT parse of md5's first 16 hex digits, with the
# md5 value pre-bound to a lateral alias so it is computed once.
_MD5_U64_TERMS = " + ".join(
    f"CAST((strpos('0123456789abcdef', substr(hx, {p}, 1)) - 1) AS HUGEINT)"
    f" * {16 ** (16 - p)}"
    for p in range(1, 17)
)

# Engine-portable 60-bit doc hash for oversized-bucket SEGMENTATION
# (r11): first 15 hex digits of md5(doc_id rendered as a decimal
# string), parsed as a non-negative BIGINT. md5 is a builtin in both
# engines and 15 hex digits (60 bits) fit signed 64-bit exactly, so
# Spark's conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) and
# the DuckDB strpos polynomial below produce the identical value —
# used as (hash % nseg) to scatter a mega bucket across segments
# without any engine-specific hash function (xxhash64 has no DuckDB
# twin; crc32 has no DuckDB builtin).
_MD5_SEG_TERMS = " + ".join(
    f"(strpos('0123456789abcdef', substr(sx, {p}, 1)) - 1)"
    f" * {16 ** (15 - p)}"
    for p in range(1, 16)
)

# CTE fragment: doc_id → dh (the 60-bit segmentation hash), appended to
# both LSH oracles. LATERAL pre-binds the md5 so it's computed once.
_DOC_SEG_CTE = f"""doc_seg AS (
  SELECT doc_id, {_MD5_SEG_TERMS} AS dh
  FROM documents, LATERAL (SELECT md5(doc_id::VARCHAR) AS sx) s
)"""


def _seg_hash(col) -> "F.Column":
    """Spark twin of ``_MD5_SEG_TERMS`` — see that constant's note."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
_PERM_VALUES = ", ".join(
    f"({i}, {int(_MH_A[i])}, {int(_MH_B[i])})" for i in range(_N_HASHES)
)

# Full-oracle recomputation of the MinHash+LSH pipeline in DuckDB.
# Three facts make this expressible (r9; was rows-only "MinHash isn't
# SQL-expressible"):
# 1. The 64 permutation constants are FIXED module constants — they
#    embed as a VALUES table; there is no runtime randomness anywhere.
# 2. Shingle hashes are md5-derived (r9) — a SQL builtin over the same
#    utf-8 bytes — and the permutation arithmetic is uint64-wrap +
#    Mersenne mod, exactly replicable in HUGEINT.
# 3. Banding groups by the 4-minima tuple. (Spark buckets by crc32 of
#    the tuple's bytes; a crc collision merging distinct tuples could
#    in principle add a candidate or trip the bucket cap differently —
#    probability ~2^-32 per bucket, absent from every fixture scale.)
def _minhash_oracle_sql(bucket_cap: int = 64) -> str:
    """DuckDB re-derivation of the full MinHash+LSH pipeline (see the
    comment block above for why this is expressible at all).
    ``bucket_cap`` is parameterized so the cross-engine chain test can
    force oversized buckets on a tiny corpus; the registered id uses
    the module default (64), matching the Spark kernel's default."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(
           regexp_split_to_array(lower(COALESCE(text, '')), '[ \\t\\n\\r\\f\\v]+'),
           x -> x <> ''
         ) AS tk
  FROM documents
), grams AS (
  SELECT doc_id,
         CASE WHEN len(tk) >= 3 THEN
           list_transform(generate_series(1, len(tk) - 2),
                          i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
         ELSE [array_to_string(tk, ' ')] END AS gs
  FROM toks
), hashed AS MATERIALIZED (
  -- MATERIALIZED (here and band_sig): DuckDB inlines CTEs, so the
  -- multiply-referenced heavy aggregates re-evaluate once per
  -- reference, CONCURRENTLY — at the sf1-equivalent corpus that
  -- tripled a 2.5x10^8-row aggregate and overflowed a 64 GB spill
  -- volume. Materializing pins single evaluation; results unchanged.
  SELECT DISTINCT doc_id, {_MD5_U64_TERMS} AS h
  FROM grams,
       LATERAL unnest(gs) AS u(g),
       LATERAL (SELECT md5(g) AS hx) m
), perms(hi, a, b) AS (
  VALUES {_PERM_VALUES}
), mins AS (
  -- (a*h mod 2^64 + b) mod 2^64 mod (2^61-1), in shift/mask algebra:
  -- HUGEINT % is ~50x slower than & / >> in DuckDB (measured 6.1 s vs
  -- 0.12 s over sf0.01's 1.67M perm-hash pairs — this one expression
  -- was the whole driver-sim tail for the id, r9 verdict #6).
  -- x % 2^64 == x & (2^64-1) for x >= 0; and with p = 2^61-1,
  -- 2^61 === 1 (mod p), so u % p == (u>>61) + (u & p) minus p at most
  -- once (the fold is < 2p: u>>61 <= 7, u&p <= p-1... <= p+7 total).
  SELECT doc_id, hi,
         MIN(CASE WHEN m >= 2305843009213693951
                  THEN m - 2305843009213693951 ELSE m END) AS mn
  FROM (
    SELECT doc_id, hi,
           (u >> 61) + (u & CAST(2305843009213693951 AS HUGEINT)) AS m
    FROM (
      SELECT doc_id, hi,
             (((CAST(a AS HUGEINT) * h)
               & CAST(18446744073709551615 AS HUGEINT)) + b)
             & CAST(18446744073709551615 AS HUGEINT) AS u
      FROM hashed, perms
    )
  ) GROUP BY doc_id, hi
), band_sig AS MATERIALIZED (
  SELECT doc_id, hi // 4 AS band, string_agg(mn::VARCHAR, ',' ORDER BY hi) AS sig
  FROM mins GROUP BY doc_id, hi // 4
), doc_sig AS MATERIALIZED (
  -- full-signature md5 (all 64 minima in permutation order) — the
  -- similarity-adjacency key for the oversized-bucket chain; the
  -- Spark kernel computes the identical value in its pandas UDF
  SELECT doc_id, md5(string_agg(mn::VARCHAR, ',' ORDER BY hi)) AS fsig
  FROM mins GROUP BY doc_id
), {_DOC_SEG_CTE}, bucket_counts AS (
  SELECT band, sig, COUNT(*) AS cnt FROM band_sig GROUP BY band, sig
), buckets AS (
  SELECT band, sig FROM bucket_counts WHERE cnt > 1 AND cnt <= {bucket_cap}
), big_buckets AS (
  SELECT band, sig, (cnt + {bucket_cap - 1}) // {bucket_cap} AS nseg
  FROM bucket_counts WHERE cnt > {bucket_cap}
), over_docs AS MATERIALIZED (
  -- oversized buckets degrade to SEGMENTED chains + star stitching
  -- instead of one bucket-wide chain (r11 — the single chain put the
  -- whole mega bucket through one ROW_NUMBER partition; at 10M docs
  -- that is a single-reducer sort on the Spark side). Segment =
  -- portable 60-bit doc hash mod ceil(n/cap), so every window
  -- partition holds ~cap docs.
  SELECT b.band, b.sig, b.doc_id, ds.fsig, g.dh % bb.nseg AS seg
  FROM band_sig b
  JOIN big_buckets bb ON bb.band = b.band AND bb.sig = b.sig
  JOIN doc_sig ds ON ds.doc_id = b.doc_id
  JOIN doc_seg g ON g.doc_id = b.doc_id
), chain AS (
  -- within-segment chain, ordered by (full-signature md5, doc_id):
  -- identical-signature duplicate families sort adjacent, so their
  -- links survive the exact-Jaccard verify even when the bucket
  -- interleaves families (r10 advice — doc_id-only ordering made
  -- every link cross-family on interleaved buckets)
  SELECT band, sig, seg, doc_id,
         ROW_NUMBER() OVER (PARTITION BY band, sig, seg
                            ORDER BY fsig, doc_id) AS rn
  FROM over_docs
), seg_reps AS (
  SELECT band, sig, seg, MIN(doc_id) AS rep
  FROM over_docs GROUP BY band, sig, seg
), bucket_hub AS (
  SELECT band, sig, MIN(rep) AS hub FROM seg_reps GROUP BY band, sig
), fam_reps AS (
  SELECT band, sig, fsig, seg, MIN(doc_id) AS rep
  FROM over_docs GROUP BY band, sig, fsig, seg
), fam_hub AS (
  SELECT band, sig, fsig, MIN(rep) AS hub
  FROM fam_reps GROUP BY band, sig, fsig
), cand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM band_sig a
    JOIN buckets k ON k.band = a.band AND k.sig = a.sig
    JOIN band_sig b ON b.band = a.band AND b.sig = a.sig AND a.doc_id < b.doc_id
    UNION ALL
    -- segment chains
    SELECT LEAST(l.doc_id, r.doc_id), GREATEST(l.doc_id, r.doc_id)
    FROM chain l
    JOIN chain r ON r.band = l.band AND r.sig = l.sig AND r.seg = l.seg
                AND r.rn = l.rn + 1
    UNION ALL
    -- star: every segment's min doc links to the bucket's min doc, so
    -- a pure-family mega bucket stays ONE component across segments
    SELECT LEAST(sr.rep, bh.hub), GREATEST(sr.rep, bh.hub)
    FROM seg_reps sr
    JOIN bucket_hub bh ON bh.band = sr.band AND bh.sig = sr.sig
    WHERE sr.rep <> bh.hub
    UNION ALL
    -- family stitch: per full-signature group, every segment's min
    -- doc links to the group's min doc — identical-signature families
    -- stay connected across segments even inside interleaved buckets
    SELECT LEAST(fr.rep, fh.hub), GREATEST(fr.rep, fh.hub)
    FROM fam_reps fr
    JOIN fam_hub fh ON fh.band = fr.band AND fh.sig = fr.sig
                   AND fh.fsig = fr.fsig
    WHERE fr.rep <> fh.hub
  )
), counts AS (
  SELECT doc_id, COUNT(*) AS n FROM hashed GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS ni
  FROM cand c
  JOIN hashed ha ON ha.doc_id = c.doc_a
  JOIN hashed hb ON hb.doc_id = c.doc_b AND hb.h = ha.h
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.ni AS DOUBLE) / CAST(ca.n + cb.n - i.ni AS DOUBLE), 4) AS jaccard
FROM inter i
JOIN counts ca ON ca.doc_id = i.doc_a
JOIN counts cb ON cb.doc_id = i.doc_b
WHERE round(CAST(i.ni AS DOUBLE) / CAST(ca.n + cb.n - i.ni AS DOUBLE), 4) >= 0.5
"""


_MINHASH_ORACLE = _minhash_oracle_sql()


@register("llm_dedup_minhash", oracle=_MINHASH_ORACLE, section="L2", bench=True, reverify=11)
def llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 near-dup detection: MinHash signatures → LSH band bucketing →
    candidate pairs per bucket → exact-Jaccard verification (≥ 0.5).

    Scale path (why there is NO cross join): equal band hash ⇒ same
    shuffle bucket; pairs are enumerated only inside buckets. Runaway
    buckets (degenerate text or mega duplicate-families) cap the
    all-pairs enumeration at 64 docs and degrade to SEGMENTED
    connectivity chains + star stitching past it (r10 introduced the
    chain after the 100× probe measured the old drop-the-bucket
    behavior at recall 0.0 on 100-replica families; r11 segmented it
    to kill the per-bucket single-reducer sort — see minhash_pairs).

    FULL oracle (r9, previously rows-only): the banding is pseudo-random
    but not random — the 64 permutation constants are fixed, shingle
    hashes are md5 (a SQL builtin since r9; crc32 never was), and the
    uint64-wrap + Mersenne-mod arithmetic replays exactly in HUGEINT, so
    DuckDB re-derives signatures, buckets (by minima tuple), cap, and
    the exact-Jaccard verdict independently — see _MINHASH_ORACLE.
    tests/test_semantics.py additionally cross-checks recall against an
    O(n²) brute-force scan, and the bench probes recall on the
    replicated 10×/30× corpora.

    One-crossing Python design (r12; was two): shingle hashing runs as
    pure JVM expressions (shingle_hash_expr — bit-identical to the old
    pandas UDF, see its docstring for the conv/shiftleft construction
    and why the BANDING UDF can't follow under ANSI arithmetic); only
    the already-hashed int64 arrays cross into Python, once, for the
    numpy permutation-matrix minima. The persisted signature store
    feeds both the banding branch and the verification joins, where
    exact Jaccard is computed JVM-side with array_intersect/array_union
    over the already-unique hash arrays — no per-pair Python and no
    second text scan. At 100 TB the signature store is exactly what
    you'd materialize to parquet.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_pairs(docs)


def _segmented_bucket_pairs(
    over: DataFrame,
    bucket_cols: tuple,
    fam_col: str,
    order_cols: tuple,
    carry: tuple = (),
) -> DataFrame:
    """O(n) connectivity pairs for SEGMENTED oversized LSH buckets —
    the shared kernel behind both `minhash_pairs` and `simhash_pairs`
    (r11 review: the chain/star/stitch algebra was duplicated
    line-for-line in both; the DuckDB oracle builders carry their own
    SQL mirror of exactly this).

    ``over`` must hold (*bucket_cols, seg, doc_id, fam_col, *carry);
    emits three structures per bucket (see minhash_pairs' docstring
    for the why): a within-segment chain ordered by ``order_cols``
    (rn → rn+1 links), a star from each segment's min doc to the
    bucket's min doc, and a family stitch from each (bucket, fam_col)
    group's per-segment min doc to the group's min doc. ``carry``
    columns (e.g. the simhash fingerprint) ride along as ``{c}_a`` /
    ``{c}_b`` for the caller's verify step, carried through the
    aggregations with min_by so nothing is re-joined; each carry is
    swapped IN LOCKSTEP with the least/greatest id normalization (r11
    advice: the old form left carries unswapped, positionally correct
    only for symmetric consumers like the XOR-popcount hamming
    verify — now ``{c}_a`` always belongs to ``doc_a``)."""
    from pyspark.sql.window import Window

    bc = list(bucket_cols)
    chain = over.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(*bc, "seg").orderBy(*order_cols)
        ),
    )
    lhs = chain.select(
        *bc, "seg", "rn", F.col("doc_id").alias("id_l"),
        *[F.col(c).alias(f"{c}_l") for c in carry],
    )
    rhs = chain.select(
        *bc, "seg", (F.col("rn") - 1).alias("rn"),
        F.col("doc_id").alias("id_r"),
        *[F.col(c).alias(f"{c}_r") for c in carry],
    )
    swap = F.col("id_l") <= F.col("id_r")
    pairs_chain = lhs.join(rhs, [*bc, "seg", "rn"]).select(
        F.least("id_l", "id_r").alias("doc_a"),
        F.greatest("id_l", "id_r").alias("doc_b"),
        *[F.when(swap, F.col(f"{c}_l")).otherwise(F.col(f"{c}_r")).alias(f"{c}_a")
          for c in carry],
        *[F.when(swap, F.col(f"{c}_r")).otherwise(F.col(f"{c}_l")).alias(f"{c}_b")
          for c in carry],
    )

    def reps_and_hub(group_cols):
        reps = over.groupBy(*group_cols, "seg").agg(
            F.min("doc_id").alias("rep"),
            *[F.min_by(c, "doc_id").alias(f"rep_{c}") for c in carry],
        )
        hub = reps.groupBy(*group_cols).agg(
            F.min("rep").alias("hub"),
            *[F.min_by(f"rep_{c}", "rep").alias(f"hub_{c}") for c in carry],
        )
        # hub = min(rep) over the group, so after the != filter the
        # invariant hub < rep holds: doc_a IS the hub, doc_b IS the
        # rep — select directly instead of a least/greatest swap whose
        # condition would be constant (r12 review; the CHAIN branch's
        # swap above is the genuinely data-dependent one)
        return (
            reps.join(hub, list(group_cols))
            .filter(F.col("rep") != F.col("hub"))
            .select(
                F.col("hub").alias("doc_a"),
                F.col("rep").alias("doc_b"),
                *[F.col(f"hub_{c}").alias(f"{c}_a") for c in carry],
                *[F.col(f"rep_{c}").alias(f"{c}_b") for c in carry],
            )
        )

    pairs_star = reps_and_hub(bc)
    pairs_stitch = reps_and_hub([*bc, fam_col])
    return pairs_chain.unionByName(pairs_star).unionByName(pairs_stitch)


def minhash_pairs(
    docs: DataFrame, threshold: float = 0.5, bucket_cap: int = 64
) -> DataFrame:
    """MinHash+LSH near-dup pairs over a (doc_id, text) frame — the
    reusable kernel behind ``llm_dedup_minhash`` (see its docstring for
    the full design + oracle notes). Returns (doc_a, doc_b, jaccard)
    with exact shingle-Jaccard ≥ ``threshold``; LSH banding (16×4 of 64
    minhashes) generates candidates, so recall is probabilistic
    (~1.0 at the default 0.5 threshold — measured each round on
    10×/30×/100× replicated corpora) while precision is exact.

    Buckets larger than ``bucket_cap`` degrade to SEGMENTED chains +
    star stitching instead of all pairs (r11; r10 used one bucket-wide
    doc_id-sorted chain, whose row_number window put the entire mega
    bucket through a single reducer — the last single-task sort in the
    100 TB path). Per oversized bucket of n docs:

    - segment = portable-md5(doc_id) mod ceil(n/cap), so every window
      partition holds ~cap docs;
    - within each segment, a chain ordered by (full-signature md5,
      doc_id) — identical-signature duplicate families sort adjacent,
      so their links survive the verify even when a bucket interleaves
      families (r10 advice: doc_id-only order made every link
      cross-family there);
    - a star links each segment's min doc to the bucket's min doc, so
      a pure-family mega bucket stays ONE component across segments;
    - a family stitch links, per full-signature group, each segment's
      min doc to the group's min doc.

    All four structures are O(n) pairs; pair-level recall inside a
    mega-family is deliberately partial (the quadratic pair list IS
    the cost being capped) but the family stays one connected
    component for clustering — measured as recall_connected in the
    bench probes.

    Cache ownership (r10 verdict): the kernel eagerly materializes the
    verified pairs via ``localCheckpoint`` (DISK_ONLY — a mega-family
    corpus emits tens of millions of pairs, and memory-level checkpoint
    blocks materialize each partition as one array: the default level
    OOM'd a 16 GiB JVM on the 100× probe, r11) and unpersists its
    internal signature frames before returning, so a caller looping the
    kernel accumulates no storage. The checkpoint blocks themselves are freed
    by Spark's ContextCleaner when the returned frame is GC'd. (On a
    real multi-executor cluster, localCheckpoint blocks are lost with
    their executor — for a 100 TB run, materialize the pair output to
    a parquet stage instead; in this single-JVM harness the trade is
    free.)

    NOTE: the registered query's DuckDB oracle re-derives the DEFAULT
    parameters; callers may tune them, the oracle contract covers the
    defaults."""
    store = widen(docs.select("doc_id", "text")).select(
        "doc_id", shingle_hash_expr("text").alias("sh")
    ).persist()
    # bs: ONE row per doc from the banding UDF (16 band hashes + the
    # full-signature md5). Persisting THIS — not the exploded band
    # frame — caches the Python work at doc granularity, and the
    # 32-char fsig never rides the 16-rows/doc band shuffle (r11
    # review find): the oversized-bucket branch joins it back at doc
    # level, exactly like the oracle's doc_sig CTE. Re-exploding from
    # the cache per consumer is pure JVM work.
    bs = store.select(
        "doc_id", minhash_bands_from_hashes("sh").alias("bs")
    ).persist()
    sigs = bs.select(
        "doc_id", F.posexplode("bs.bands").alias("band", "band_hash")
    )
    # persisted: counts feeds the small filter, the big filter, AND the
    # isEmpty gate below. One tiny row per bucket.
    counts = sigs.groupBy("band", "band_hash").count().persist()
    small = counts.filter(
        (F.col("count") > 1) & (F.col("count") <= bucket_cap)
    ).select("band", "band_hash")
    big = counts.filter(F.col("count") > bucket_cap).select(
        "band",
        "band_hash",
        F.expr(f"(count + {bucket_cap - 1}) DIV {bucket_cap}").alias("nseg"),
    )
    # pair generation as a distributed self-equi-join on (band, hash) —
    # r10 rewrite: the old collect_list-of-ids bucket row was a latent
    # driver-sized-row hazard (a 10M-doc boilerplate family would
    # materialize as ONE array row), the same shape the simhash kernel
    # always avoided
    s = sigs.join(small, ["band", "band_hash"])
    pairs_small = (
        s.select("band", "band_hash", F.col("doc_id").alias("doc_a"))
        .join(
            s.select("band", "band_hash", F.col("doc_id").alias("doc_b")),
            ["band", "band_hash"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    released = [store, bs, counts]
    try:
        if big.isEmpty():
            # the common corpus has no oversized buckets at the default
            # cap — skip planning the chain/star/stitch subtrees
            # entirely (a data-dependent driver-side branch: the kernel
            # materializes eagerly anyway, and the three empty subtrees
            # measured +1.5 s of stage overhead per call at sf0.1)
            pairs = pairs_small.distinct()
        else:
            # persisted: over feeds the chain window + three
            # aggregations — bounded by the oversized buckets' rows
            over = (
                sigs.join(big, ["band", "band_hash"])
                .join(
                    bs.select("doc_id", F.col("bs.sig").alias("fsig")),
                    "doc_id",
                )
                .withColumn("seg", F.pmod(_seg_hash("doc_id"), F.col("nseg")))
                .select("band", "band_hash", "seg", "doc_id", "fsig")
                .persist()
            )
            released.append(over)
            pairs = pairs_small.unionByName(
                _segmented_bucket_pairs(
                    over, ("band", "band_hash"), "fsig", ("fsig", "doc_id")
                )
            ).distinct()
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
        verified = (
            pairs.join(
                store.select(
                    F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
                ),
                "doc_a",
            )
            .join(
                store.select(
                    F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
                ),
                "doc_b",
            )
            .select("doc_a", "doc_b", F.round(inter / union, 4).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold)
        )
        # deterministic cache release (r10 verdict #8): materialize,
        # then unpersist the kernel-internal frames — see the
        # docstring. try/finally so a failing job (executor OOM on an
        # adversarial corpus) cannot leak the persisted frames either.
        verified = verified.localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
    finally:
        for frame in released:
            try:
                frame.unpersist()
            except Exception:
                pass
    return verified


# =============================================================================
# L2a near-dup: exact n-gram Jaccard (oracle-checked)
# =============================================================================

_NGRAM_DF_CAP = 64  # blocking: shingles seen in > cap docs are non-discriminative

# CTE chain shared by the pair oracle and the clustering oracle
_NGRAM_CTES = f"""sh AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(t) >= 3
             THEN list_transform(range(1, len(t)-1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             ELSE [array_to_string(t, ' ')] END)) AS s
  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t FROM documents)
), rare AS (
  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {_NGRAM_DF_CAP}
), shr AS (
  SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)
), cnt AS (
  SELECT doc_id, COUNT(*) AS n FROM shr GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) AS jaccard
  FROM shared
  JOIN cnt na ON na.doc_id = doc_a
  JOIN cnt nb ON nb.doc_id = doc_b
  WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5
)"""

_NGRAM_ORACLE = f"""
WITH {_NGRAM_CTES}
SELECT doc_a, doc_b, jaccard FROM pairs
"""


@register("llm_dedup_ngram", oracle=_NGRAM_ORACLE, section="L2")
def llm_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 exact token-3-gram Jaccard near-dup, fully SQL-expressible
    (oracle-checked, unlike the probabilistic MinHash/SimHash paths).

    Inverted-index formulation — NO cross join: docs sharing a shingle
    meet in that shingle's shuffle bucket; the per-pair shared count is
    a groupBy. Blocking for 100 TB: shingles appearing in more than
    _NGRAM_DF_CAP docs are non-discriminative and dropped from the
    shingle universe (both engines apply the same cap, so Jaccard is
    defined over the capped universe). Everything is JVM built-ins —
    no Python in the plan.
    """
    # widen BEFORE the shingle computation: the fixture is a single
    # parquet file (one scan task), and the per-row shingle transform is
    # the expensive part — it must run on all cores, not one
    docs = widen(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.split(F.lower(F.col("text")), "\\s+")
    n = F.size(toks)
    tri = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    shingles = F.array_distinct(
        F.when(n >= 3, tri).otherwise(F.array(F.concat_ws(" ", toks)))
    )
    sh = docs.select("doc_id", F.explode(shingles).alias("s"))
    rare = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _NGRAM_DF_CAP
    )
    shr = sh.join(rare.select("s"), "s")
    cnt = shr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        shr.alias("a")
        .join(shr.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (F.col("na.n") + F.col("nb.n") - F.col("inter"))
    return (
        shared.join(cnt.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(cnt.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# =============================================================================
# L2c dedup clustering: connected components over near-dup pairs
# =============================================================================

_CLUSTER_ORACLE = f"""
WITH RECURSIVE {_NGRAM_CTES},
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, root) AS (
  SELECT DISTINCT doc_a, doc_a FROM edges
  UNION
  SELECT e.doc_a, r.root FROM edges e JOIN reach r ON r.doc_id = e.doc_b
)
SELECT doc_id, MIN(root) AS cluster_id FROM reach GROUP BY doc_id
"""


def connected_components(edges: DataFrame, src: str, dst: str, max_iter: int = 50) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): converges in O(log² n) rounds on ANY graph shape — unlike
    min-label propagation, whose round count is the graph *diameter*
    and stalls on adversarially long dup-chains at 100 TB.

    Per round, two shuffle stages over the current edge set (each a
    groupBy-min + join, no joins against a growing frontier):

    - **large-star**: every node links its larger neighbors to the
      smallest node in its neighborhood (incl. itself) — emitted edges
      always point high→low, halving long chains;
    - **small-star**: every node links its smaller neighbors (and
      itself) to its minimum neighbor — collapsing local stars onto
      component minima.

    ``localCheckpoint`` per round truncates lineage so the plan doesn't
    grow with the loop. Convergence = the (count, id-sum) signature of
    the edge set is unchanged — edges only ever relink to smaller
    targets, so the sum is monotone non-increasing and equality (with
    equal count) is a fixpoint in practice; a final groupBy-min makes
    the output correct even if max_iter cuts convergence short.

    At the fixpoint the edge set is a star per component, centered at
    the component's minimum id; output is (doc_id, cluster_id=min-id)
    for every vertex that appears in the input edge set."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # materialize ONCE — without this the whole upstream pair-
        # generation pipeline would re-execute every round. DISK_ONLY
        # (r13): the default storage level builds each partition as one
        # deserialized in-memory array — at a 10^7-10^8-row edge set
        # (corpus_pipeline at the 100x probe) that is the JVM-killing
        # allocation class pagerank hit; serialized disk blocks spill
        # gracefully instead
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    prev_sig = None
    for _ in range(max_iter):
        # large-star: N(u) over both orientations; m = min(N(u) ∪ {u});
        # emit (v, m) for v ∈ N(u) with v > u
        both = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        lmin = (
            both.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        e = (
            both.join(lmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient high→low; m = min neighbor of u (< u);
        # emit (v, m) for v ∈ N(u) \ {m} plus (u, m)
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        smin = oriented.groupBy("u").agg(F.min("v").alias("m"))
        relink = (
            oriented.join(smin, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        e = (
            relink.unionByName(smin.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            # DISK_ONLY per round — same rationale as the entry edge set
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
        # order-insensitive EDGE-SET digest: count + XOR of per-edge
        # xxhash64(u, v) (the edge set is distinct, so XOR never
        # self-cancels; XOR also can't overflow under ANSI mode the way
        # a 64-bit sum can). Equal digests across rounds mean (up to a
        # 2^-64-grade hash collision) the edge set itself is unchanged,
        # i.e. a genuine fixpoint — unlike a (count, sum(u+v)) moment
        # signature, which distinct edge sets can share.
        sig = tuple(
            e.agg(
                F.count(F.lit(1)), F.expr("bit_xor(xxhash64(u, v))")
            ).collect()[0]
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    # At the fixpoint e is (member, root) stars; roots label themselves.
    # If max_iter stopped the loop BEFORE the fixpoint, the groupBy-min
    # below is only a best-effort collapse (members of one component can
    # still hold different intermediate labels) — max_iter=50 vs the
    # O(log^2 n) convergence of large-star/small-star makes that case
    # unreachable for any realistic graph.
    return (
        e.select(F.col("u").alias("doc_id"), F.col("v").alias("label"))
        .unionByName(
            e.select(F.col("v").alias("doc_id"), F.col("v").alias("label"))
        )
        .groupBy("doc_id")
        .agg(F.min("label").alias("cluster_id"))
    )


@register("llm_dedup_clusters", oracle=_CLUSTER_ORACLE, section="L1,L2")
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 dedup CLUSTERING — the step after pair generation in a real
    training-data pipeline: group near-dup pairs into connected
    components and assign each doc its component's min doc_id as
    cluster_id (keep one doc per cluster downstream). Spark side is the
    iterative min-label-propagation above; the oracle computes the same
    components with a recursive CTE over the identical (oracle-checked)
    ngram pair set — an iterative distributed algorithm validated
    against declarative transitive closure."""
    pairs = llm_dedup_ngram(spark, sf_dir)
    return connected_components(pairs, "doc_a", "doc_b")


_PIPELINE_ORACLE = f"""
WITH RECURSIVE {_NGRAM_CTES},
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, root) AS (
  SELECT DISTINCT doc_a, doc_a FROM edges
  UNION
  SELECT e.doc_a, r.root FROM edges e JOIN reach r ON r.doc_id = e.doc_b
),
clusters AS (
  SELECT doc_id, MIN(root) AS cluster_id FROM reach GROUP BY doc_id
),
q AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(len(w) BETWEEN 50 AND 100000
              AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
                  BETWEEN 3 AND 10
              AND CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                  / len(w) >= 0.8
              AND CAST(n_hash AS DOUBLE) / len(w) <= 0.1 AS INTEGER) AS passes
  FROM (
    SELECT doc_id,
           string_split_regex(lower(text), '\\s+') AS w,
           length(text) - length(replace(text, '#', '')) AS n_hash
    FROM documents
  )
)
SELECT q.doc_id, q.n_words
FROM q LEFT JOIN clusters c ON q.doc_id = c.doc_id
WHERE q.passes = 1 AND (c.cluster_id IS NULL OR c.cluster_id = q.doc_id)
"""


@register("llm_corpus_pipeline", oracle=_PIPELINE_ORACLE, section="L1,L2,L5")
def llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus curation flow a training pipeline runs,
    as ONE value-checked query: near-dup pair generation (ngram
    inverted index) → connected-component clustering (iterative label
    propagation) → keep each cluster's canonical doc → Gopher quality
    gate on the survivors. The oracle re-derives the identical output
    declaratively (recursive-CTE closure + the same quality predicate),
    so every stage of the composition — including the iterative
    clustering loop — is hash-checked end to end.

    Scale shape: pair generation and clustering are the dominant cost
    and both are shuffle-on-key plans (no cross join, no driver data);
    the quality gate is a per-row filter fused into the scan."""
    quality = llm_quality_gopher(spark, sf_dir).filter(F.col("passes") == 1).select(
        "doc_id", "n_words"
    )
    clusters = connected_components(llm_dedup_ngram(spark, sf_dir), "doc_a", "doc_b")
    non_reps = clusters.filter(F.col("cluster_id") != F.col("doc_id")).select("doc_id")
    return quality.join(non_reps, "doc_id", "left_anti")


# =============================================================================
# L2b near-dup: SimHash
# =============================================================================


@F.pandas_udf(T.LongType())
def simhash64(text: pd.Series) -> pd.Series:
    """64-bit SimHash over unigram tokens (md5-derived token hashes).

    Tokenization is pinned to an EXPLICIT ASCII-whitespace class (not
    str.split(), whose unicode whitespace set no SQL regex engine
    reproduces) so the DuckDB oracle can re-derive every fingerprint
    bit-for-bit: split on ``_ASCII_WS`` (the module-level pinned
    pattern shared with ``_shingle_hashes``), drop empties, dedupe,
    md5 each token."""
    import hashlib

    out = []
    for t in text:
        toks = set(_ASCII_WS.split((t or "").lower())) - {""}
        acc = np.zeros(64, dtype=np.int64)
        for tok in toks:
            digest = hashlib.md5(tok.encode("utf-8")).digest()[:8]
            bits = np.unpackbits(np.frombuffer(digest, dtype=np.uint8)).astype(np.int64)
            acc += 2 * bits - 1
        fp = int(np.packbits(acc > 0).view(">u8")[0])
        out.append(fp - (1 << 64) if fp >= (1 << 63) else fp)
    return pd.Series(out, dtype="int64")


# Degenerate-collision guard for simhash banding: a bucket key shared
# by more docs than this caps the all-pairs enumeration; past the cap
# the bucket degrades to a (fingerprint, doc_id)-sorted chain (r10 —
# capped buckets were DROPPED before, which the 100× probe measured as
# recall 0.78/0.61 on a low-entropy 500k-doc corpus). Real near-dup
# mega-clusters below the cap pass through intact (their quadratic pair
# count is the answer, and the self-join distributes it); above it, the
# chain keeps duplicate families connected at O(n) pairs.
_SIMHASH_BUCKET_CAP = 4096

# Multi-block banding (Manku, Jain & Das Sarma, WWW'07 — the scheme
# Google ran simhash dedup with at web scale): split the 64-bit
# fingerprint into n blocks and key candidate buckets on every
# combination of `keep` blocks. Pigeonhole: ≤(n−keep) flipped bits
# touch ≤(n−keep) blocks, so ≥keep blocks are clean and at least one
# clean combination exists — recall 1.0 for hamming ≤ n−keep.
#
# Two registered configurations, both guaranteeing hamming ≤ 3
# (r9 verdict #3 — the banding width is a measured knob, not a fixed
# choice):
# - b6k3 (default): 6 blocks (4×11 + 2×10 bits), C(6,3) = 20 triple
#   keys of ~32 bits. Chosen over the classic 4×16-bit chunks after a
#   measured recall collapse: one 16-bit chunk value held 32,403 of
#   150k docs on the low-entropy 30× probe corpus, the 4096 cap
#   dropped those buckets, and recall fell to 0.40. 32-bit keys keep
#   expected accidental bucket sizes ~n/2^32.
# - b5k2: 5 blocks (4×13 + 1×12 bits), C(5,2) = 10 pair keys of ~26
#   bits — HALF the bucket rows per doc (shuffle volume) at the price
#   of 64× more accidental key collisions (~n/2^26); same pigeonhole
#   bound (3 flips touch ≤3 of 5 blocks → ≥2 clean → a clean pair).
#   The cheaper choice when the corpus is high-entropy or the
#   candidate verify step dominates.
_SIMHASH_SCHEMES: dict[str, tuple[list[tuple[int, int]], int]] = {
    "b6k3": ([(0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10)], 3),
    "b5k2": ([(0, 13), (13, 13), (26, 13), (39, 13), (52, 12)], 2),
}


def _simhash_combos(scheme: str) -> list[tuple[int, ...]]:
    import itertools

    blocks, keep = _SIMHASH_SCHEMES[scheme]
    return list(itertools.combinations(range(len(blocks)), keep))


def _simhash_key_mults(scheme: str) -> list[int]:
    """Collision-free packing of a `keep`-tuple of block values into one
    BIGINT key: every position shifted by the max block width.

    Injectivity contract (ADVICE r14 #4): the first-matching-combo
    when-chain in ``simhash_pairs`` has no ``otherwise()`` — it relies
    on kv-equality ⟺ block-tuple-equality, which holds only while (a)
    every block width fits the per-position shift (each width ≤ wmax,
    true by construction of wmax) and (b) the packed key fits a signed
    64-bit long. A future scheme violating (b) would silently alias
    keys and LOSE pairs; assert it loudly instead."""
    blocks, keep = _SIMHASH_SCHEMES[scheme]
    wmax = max(w for _, w in blocks)
    assert wmax * keep < 64, (
        f"simhash scheme {scheme!r}: packed combo key needs "
        f"{wmax * keep} bits — does not fit a signed BIGINT, the "
        "kv-equality => block-equality invariant would break"
    )
    return [1 << (wmax * (keep - 1 - j)) for j in range(keep)]


def _simhash_combo_masks(scheme: str) -> list[int]:
    """Per-combo 64-bit mask (OR of the combo's block masks), as SIGNED
    int64 two's-complement values so they are valid LongType literals:
    combo t matches a pair iff xor(fp_a, fp_b) & mask[t] == 0 — the
    bit-algebra the first-matching-combo emission in ``simhash_pairs``
    filters on."""
    blocks, _ = _SIMHASH_SCHEMES[scheme]
    masks = []
    for combo in _simhash_combos(scheme):
        m = 0
        for bi in combo:
            off, w = blocks[bi]
            m |= ((1 << w) - 1) << off
        masks.append(m - (1 << 64) if m >= (1 << 63) else m)
    return masks


def _simhash_oracle_sql(scheme: str, bucket_cap: int = _SIMHASH_BUCKET_CAP) -> str:
    """DuckDB re-derivation of the full SimHash pipeline for a banding
    scheme: fingerprints from per-token md5 bits, block extraction,
    combo keys, bucket cap, exact popcount verify — all integer
    algebra, generated from the same scheme table the Spark side
    uses so the two can never drift. ``bucket_cap`` is parameterized
    so the cross-engine chain test can force oversized buckets on a
    tiny corpus (the registered ids use the module default)."""
    blocks, keep = _SIMHASH_SCHEMES[scheme]
    combos = _simhash_combos(scheme)
    mults = _simhash_key_mults(scheme)
    combo_cols = ", ".join(f"i{j}" for j in range(keep))
    combo_rows = ", ".join(
        "(" + ", ".join(str(v) for v in (t, *c)) + ")" for t, c in enumerate(combos)
    )
    key_expr = " + ".join(
        f"bl[i{j} + 1] * {m}" if m > 1 else f"bl[i{j} + 1]"
        for j, m in enumerate(mults)
    )
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, t AS token
  FROM documents,
       LATERAL unnest(
         regexp_split_to_array(lower(COALESCE(text, '')), '[ \\t\\n\\r\\f\\v]+')
       ) AS u(t)
  WHERE t <> ''
), hx AS (
  SELECT doc_id, md5(token) AS h FROM tok
), bits AS (
  -- bit b of a token's 64-bit hash = bit (3 - b%4) of hex digit b//4;
  -- SimHash accumulates +1/-1 per token per bit
  SELECT doc_id, b,
         SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, b // 4 + 1, 1)) - 1)
                        >> (3 - (b % 4))) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM hx, LATERAL (SELECT unnest(generate_series(0, 63)) AS b) bb
  GROUP BY doc_id, b
), fp AS (
  SELECT doc_id,
         SUM(CASE WHEN acc > 0 THEN CAST(1 AS HUGEINT) << (63 - b)
                  ELSE CAST(0 AS HUGEINT) END) AS fpu
  FROM bits GROUP BY doc_id
), docs_fp AS MATERIALIZED (
  -- MATERIALIZED (and keys below): DuckDB inlines CTE references, so
  -- every re-reference of docs_fp/keys would re-derive the WHOLE
  -- fingerprint pipeline (the 3x10^8-row bits aggregate) — measured
  -- overflowing a 64 GB spill volume at the sf1-equivalent corpus.
  SELECT d.doc_id, COALESCE(fp.fpu, 0) AS fpu
  FROM documents d LEFT JOIN fp USING (doc_id)
), blk AS (
  SELECT doc_id, fpu,
         list_transform(
           [{", ".join(f"[{o}, {w}]" for o, w in blocks)}],
           p -> CAST((fpu // (CAST(1 AS HUGEINT) << p[1])) % (1 << p[2]) AS BIGINT)
         ) AS bl
  FROM docs_fp
), combos(t, {combo_cols}) AS (
  VALUES {combo_rows}
), keys AS MATERIALIZED (
  SELECT doc_id, fpu, t, {key_expr} AS kv
  FROM blk, combos
), {_DOC_SEG_CTE}, key_counts AS MATERIALIZED (
  SELECT t, kv, COUNT(*) AS cnt FROM keys GROUP BY t, kv
), ok_keys AS (
  SELECT t, kv FROM key_counts WHERE cnt > 1 AND cnt <= {bucket_cap}
), big_keys AS (
  SELECT t, kv, (cnt + {bucket_cap - 1}) // {bucket_cap} AS nseg
  FROM key_counts WHERE cnt > {bucket_cap}
), over_docs AS MATERIALIZED (
  -- oversized buckets degrade to SEGMENTED chains + star stitching
  -- instead of one bucket-wide chain (r11 — the single chain put the
  -- whole mega bucket through one ROW_NUMBER partition, a
  -- single-reducer sort on the Spark side). Segment = portable
  -- 60-bit doc hash mod ceil(n/cap) — every partition holds ~cap docs.
  SELECT k.t, k.kv, k.doc_id, k.fpu, g.dh % bk.nseg AS seg
  FROM keys k
  JOIN big_keys bk ON bk.t = k.t AND bk.kv = k.kv
  JOIN doc_seg g ON g.doc_id = k.doc_id
), chain AS (
  -- within-segment chain ordered by fingerprint: identical
  -- fingerprints adjacent, so duplicate families inside accidental
  -- mega buckets stay connected; the popcount verify prunes
  -- accidental neighbors. Chain order = the SIGNED int64
  -- reinterpretation of the fingerprint, because that is the order
  -- Spark's LongType sort gives: fpu alone would order mixed-sign
  -- buckets differently and the two engines' chains (hence pair
  -- sets) would diverge.
  SELECT doc_id, t, kv, seg,
         ROW_NUMBER() OVER (
           PARTITION BY t, kv, seg
           ORDER BY CASE WHEN fpu >= 9223372036854775808
                         THEN fpu - 18446744073709551616
                         ELSE fpu END,
                    doc_id
         ) AS rn
  FROM over_docs
), seg_reps AS (
  SELECT t, kv, seg, MIN(doc_id) AS rep FROM over_docs GROUP BY t, kv, seg
), key_hub AS (
  SELECT t, kv, MIN(rep) AS hub FROM seg_reps GROUP BY t, kv
), fam_reps AS (
  SELECT t, kv, fpu, seg, MIN(doc_id) AS rep
  FROM over_docs GROUP BY t, kv, fpu, seg
), fam_hub AS (
  SELECT t, kv, fpu, MIN(rep) AS hub FROM fam_reps GROUP BY t, kv, fpu
), cand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM keys a
    JOIN ok_keys k ON k.t = a.t AND k.kv = a.kv
    JOIN keys b ON b.t = a.t AND b.kv = a.kv AND a.doc_id < b.doc_id
    UNION ALL
    -- segment chains
    SELECT LEAST(l.doc_id, r.doc_id) AS doc_a,
           GREATEST(l.doc_id, r.doc_id) AS doc_b
    FROM chain l
    JOIN chain r ON r.t = l.t AND r.kv = l.kv AND r.seg = l.seg
                AND r.rn = l.rn + 1
    UNION ALL
    -- star: every segment's min doc links to the bucket's min doc, so
    -- a pure-family mega bucket stays ONE component across segments
    SELECT LEAST(sr.rep, kh.hub), GREATEST(sr.rep, kh.hub)
    FROM seg_reps sr JOIN key_hub kh ON kh.t = sr.t AND kh.kv = sr.kv
    WHERE sr.rep <> kh.hub
    UNION ALL
    -- family stitch: per identical-fingerprint group, every segment's
    -- min doc links to the group's min doc — hamming-0 links that
    -- always survive the verify
    SELECT LEAST(fr.rep, fh.hub), GREATEST(fr.rep, fh.hub)
    FROM fam_reps fr
    JOIN fam_hub fh ON fh.t = fr.t AND fh.kv = fr.kv AND fh.fpu = fr.fpu
    WHERE fr.rep <> fh.hub
  )
), chunks AS (
  SELECT doc_id, ci,
         CAST((fpu // (CAST(1 AS HUGEINT) << (16 * ci))) % 65536 AS BIGINT) AS cv
  FROM docs_fp, LATERAL (SELECT unnest(generate_series(0, 3)) AS ci) cc
), ham AS (
  SELECT cand.doc_a, cand.doc_b,
         CAST(SUM(bit_count(xor(a.cv, b.cv))) AS INTEGER) AS hamming
  FROM cand
  JOIN chunks a ON a.doc_id = cand.doc_a
  JOIN chunks b ON b.doc_id = cand.doc_b AND b.ci = a.ci
  GROUP BY cand.doc_a, cand.doc_b
)
SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3
"""


def simhash_pairs(
    docs: DataFrame,
    scheme: str = "b6k3",
    bucket_cap: int = _SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """SimHash near-dup pair detection over a (doc_id, text) frame:
    64-bit fingerprints, multi-block banding per `scheme`
    (see ``_SIMHASH_SCHEMES``), exact popcount hamming ≤ 3 verify.
    While no bucket exceeds ``bucket_cap``, output = exactly {pairs
    with hamming ≤ 3} for both schemes (pigeonhole — pytest-pinned per
    scheme in tests/test_semantics.py); oversized buckets degrade to
    SEGMENTED (fp, doc_id)-sorted chains plus per-bucket star and
    per-fingerprint family-stitch links (r11; see minhash_pairs for
    the segmentation rationale) — connectivity preserved at O(n)
    pairs with no single-reducer sort, pinned by
    test_lsh_bucket_cap_degrades_to_chain. The kernel eagerly
    materializes its result and releases its internal caches before
    returning.

    Pair generation is a distributed self-equi-join on (combo index,
    key) — never a per-bucket collect_list array, so a large near-dup
    cluster spreads across the shuffle instead of materializing as one
    driver-sized row."""
    blocks_def, _ = _SIMHASH_SCHEMES[scheme]
    mults = _simhash_key_mults(scheme)
    # persisted at DOC granularity: fps caches the fingerprint UDF at
    # one row/doc; the combo-key explosion below is pure JVM block
    # arithmetic, cheap to re-derive from the cache per consumer (r11
    # review — mirroring the minhash twin's bs frame).
    fps = widen(docs).select("doc_id", simhash64("text").alias("fp")).persist()
    blocks = [
        F.shiftrightunsigned("fp", off).bitwiseAND(F.lit((1 << w) - 1))
        for off, w in blocks_def
    ]
    combo_keys = []
    for combo in _simhash_combos(scheme):
        key = blocks[combo[0]] * F.lit(mults[0])
        for j, bi in enumerate(combo[1:], start=1):
            key = key + blocks[bi] * F.lit(mults[j])
        combo_keys.append(key)
    # posexplode keeps the combo index in the key (combo t of A must
    # equal combo t of B)
    keys_df = fps.select(
        "doc_id",
        "fp",
        F.posexplode(F.array(*combo_keys)).alias("t", "kv"),
    )
    # persisted: counts feeds the ok/big filters and the isEmpty gate
    # (one tiny row per bucket — see the minhash twin)
    counts = keys_df.groupBy("t", "kv").count().persist()
    keys = counts.filter(
        (F.col("count") > 1) & (F.col("count") <= bucket_cap)
    ).select("t", "kv")
    cand = keys_df.join(keys, ["t", "kv"])
    a = cand.select(
        "t", "kv", F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a")
    )
    b = cand.select(
        "t", "kv", F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b")
    )
    joined_small = a.join(b, ["t", "kv"]).filter(F.col("doc_a") < F.col("doc_b"))
    pairs_small = joined_small.select("doc_a", "doc_b", "fp_a", "fp_b")
    # oversized buckets (low-entropy corpora: many distinct docs agree
    # on one ~26/32-bit key) degrade to SEGMENTED chains + star
    # stitching instead of being dropped (r10 measured the drop at
    # recall 0.78/0.61; r11 replaced the single bucket-wide chain,
    # whose row_number window was a single-reducer sort on a 10M-doc
    # bucket). Chain order inside a segment is (fp, doc_id) so
    # identical fingerprints sort adjacent; the per-fingerprint family
    # stitch links are hamming-0 and ALWAYS survive the verify, while
    # accidental neighbors are pruned by the exact popcount. Shared
    # algebra: _segmented_bucket_pairs (the fingerprint rides the
    # aggregations as a carry column for the verify).
    big = counts.filter(F.col("count") > bucket_cap).select(
        "t",
        "kv",
        F.expr(f"(count + {bucket_cap - 1}) DIV {bucket_cap}").alias("nseg"),
    )
    released = [fps, counts]
    try:
        if big.isEmpty():
            # no oversized buckets (the common case at the default 4096
            # cap): skip the chain/star/stitch subtrees — same
            # driver-side data-dependent branch as the minhash twin.
            #
            # First-matching-combo emission (r14 opt, guide §2.3): a
            # surviving pair collides in EVERY combo whose blocks are
            # all clean — a hamming-0 pair in all C(n,keep) of them —
            # so the verify→distinct exchange carried up to 20× (b6k3)
            # / 10× (b5k2) the true pair volume on duplicate-heavy
            # corpora (measured 3.93× on the 30× perturbed-replica
            # probe; exact-dup-heavy production corpora sit near the
            # 20× bound). Whether combo t' matches is pure bit algebra
            # on xor(fp_a, fp_b) (zero bits under the combo's block
            # mask), so each pair is emitted ONLY at its first matching
            # combo: keep ⇔ t == min{t': xor & mask[t'] == 0}. Every
            # matching combo's bucket is enumerated in this branch
            # (nothing was capped — exactly what big.isEmpty() proved,
            # and why the filter is NOT applied on the capped path,
            # where the first matching combo's bucket may have degraded
            # to a chain), so the first matching combo is always
            # present and emits the pair exactly once.
            #
            # The distinct() below is KEPT even though its dedup is now
            # a no-op on this branch: its exchange is what rebalances
            # the (t, kv)-skewed join output before the checkpoint
            # write — an A/B that dropped it regressed 41 → 46 s at 30×
            # (the mega-text-cluster's partitions became the write
            # straggler). The filter's win is the 3.93×–20× fewer rows
            # THROUGH that exchange, not the exchange itself.
            #
            # Cost shape: the popcount runs FIRST (one op per joined
            # row, kills the accidental-collision majority), then the
            # when-chain scans masks in combo order and SHORT-CIRCUITS
            # at the first match — a hamming-0 pair (the duplicate-
            # family common case) exits at term 1; every joined row
            # matches its own combo t, so the chain never scans past
            # t+1 terms. (Mask algebra pinned:
            # test_simhash_first_combo_emission_is_exact.)
            x = F.col("fp_a").bitwiseXOR(F.col("fp_b"))
            masks = _simhash_combo_masks(scheme)
            first_t = F.when(x.bitwiseAND(F.lit(masks[0])) == 0, F.lit(0))
            for i, m in enumerate(masks[1:], start=1):
                first_t = first_t.when(x.bitwiseAND(F.lit(m)) == 0, F.lit(i))
            cand_pairs = joined_small.filter(
                (F.bit_count(x) <= 3) & (F.col("t") == first_t)
            ).select("doc_a", "doc_b", "fp_a", "fp_b")
        else:
            over = (
                keys_df.join(big, ["t", "kv"])
                .withColumn("seg", F.pmod(_seg_hash("doc_id"), F.col("nseg")))
                .select("t", "kv", "seg", "doc_id", "fp")
                .persist()
            )
            released.append(over)
            cand_pairs = pairs_small.unionByName(
                _segmented_bucket_pairs(
                    over, ("t", "kv"), "fp", ("fp", "doc_id"), carry=("fp",)
                )
            )
        result = (
            cand_pairs.select(
                "doc_a",
                "doc_b",
                F.bit_count(
                    F.col("fp_a").bitwiseXOR(F.col("fp_b"))
                ).alias("hamming"),
            )
            .filter(F.col("hamming") <= 3)
            .distinct()
        )
        # deterministic cache release (r10 verdict #8): materialize,
        # then unpersist — try/finally so a failing job cannot leak
        # the persisted frames (see minhash_pairs for the DISK_ONLY
        # and at-scale caveats).
        result = result.localCheckpoint(
            eager=True, storageLevel=StorageLevel.DISK_ONLY
        )
    finally:
        for frame in released:
            try:
                frame.unpersist()
            except Exception:
                pass
    return result


@register("llm_dedup_simhash", oracle=_simhash_oracle_sql("b6k3"), section="L2", reverify=11)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 SimHash near-dup: 64-bit fingerprints; candidates share at
    least one of the C(6,3) = 20 block-triple keys (Manku et al.
    WWW'07 multi-block banding — pigeonhole ⇒ recall 1.0 for hamming
    ≤ 3, since ≤3 flips leave some triple of the 6 blocks clean);
    verified by exact popcount hamming ≤ 3, so the emitted pair set is
    exactly {pairs with hamming ≤ 3} (asserted equal to the
    brute-force O(n²) scan in tests/test_semantics.py).

    Why triples and not the classic four 16-bit chunks: chunk-width
    keys collapse on low-entropy corpora. Measured on the 30× bench
    probe corpus (150k docs of small-vocabulary text), one 16-bit
    chunk value was shared by 32,403 documents; the degenerate-bucket
    cap dropped those buckets and banding recall fell to 0.40. The
    ~32-bit triple keys keep expected bucket sizes ~n/2³², so the cap
    binds only on families agreeing on 32+ specific bits —
    near-identical documents whose quadratic pair count is the answer.
    20 bucket rows per doc instead of 4: still linear, no cross join.

    FULL oracle (r9, previously rows-only): unlike minhash, nothing
    here is probabilistic at fixed fingerprints — tokenization is a
    pinned ASCII-whitespace split, token hashes are md5, and the ±1
    bit accumulation, triple-key banding, bucket cap, and popcount
    verify are all integer algebra, so DuckDB re-derives every
    fingerprint (verified bit-for-bit at sf0.001/0.01/0.1) and the
    exact pair set independently.

    Pair generation: see ``simhash_pairs`` (the shared kernel both
    banding configs run through)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_pairs(docs, scheme="b6k3")


@register(
    "llm_dedup_simhash_b5",
    oracle=_simhash_oracle_sql("b5k2"),
    section="L2",
    reverify=11,
)
def llm_dedup_simhash_b5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 SimHash near-dup, cheap-banding configuration: C(5,2) = 10
    pair keys over 5 blocks instead of the default C(6,3) = 20 triple
    keys over 6 (r9 verdict #3 — the banding width as a measured knob).
    Identical output contract to ``llm_dedup_simhash`` (exactly the
    hamming ≤ 3 pair set — the pigeonhole guarantee holds for both:
    3 flipped bits touch ≤3 of 5 blocks, leaving ≥2 clean → at least
    one clean pair key), so the two results are asserted EQUAL in
    tests/test_semantics.py. The trade is shuffle rows (10/doc vs
    20/doc) against accidental key collisions (~26-bit vs ~32-bit
    keys); bench_detail.json carries both configs' walls + recall at
    10×/30× so the default is picked with numbers, not taste. FULL
    oracle, generated from the same scheme table as the Spark side."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_pairs(docs, scheme="b5k2")


# =============================================================================
# L2 entity-resolution fuzzy matching (deletion-neighborhood blocking)
# =============================================================================

_FUZZY_ORACLE = """
WITH names AS (SELECT DISTINCT p_name AS name FROM part)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM names a JOIN names b ON a.name < b.name
WHERE levenshtein(a.name, b.name) <= 1
"""


def fuzzy_pairs_dist1(names: DataFrame, col: str = "name") -> DataFrame:
    """All distinct string pairs within edit distance 1, WITHOUT the
    O(n²) comparison: the FastSS/SymSpell deletion-neighborhood trick.
    Each string expands to itself plus every single-character-deletion
    variant; two strings at edit distance ≤ 1 (substitution, insertion
    or deletion) are GUARANTEED to share a variant, so an equi-join on
    the variant key produces a candidate superset and a JVM
    ``levenshtein`` verify makes the result exact — same
    candidate-generate → exact-verify discipline as the MinHash and
    bloom paths, but with a recall *guarantee* instead of a probability.

    Scale shape: n·(L+1) variant rows shuffle on the variant key (short
    strings — for long keys hash the variant first); candidate pairs are
    bounded by bucket sizes, never n². Depth-d neighborhoods generalize
    the same plan to distance d."""
    n = names.select(F.col(col).alias("name")).distinct()
    # per-name variant dedup is row-local (array_distinct before the
    # explode — r15, guide §2.4): the old `.distinct()` on the exploded
    # (name, v) frame shuffled every variant row once just to dedup
    # within its own name. The join key is the VARIANT'S 64-BIT HASH
    # (the docstring's own long-key advice; guide §2.3): variant
    # strings are ~name-length bytes, the hash is 8 — and a collision
    # can only add a false candidate, which the exact levenshtein
    # verify below discards.
    variants = n.select(
        "name",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.col("name")),
                    F.transform(
                        F.sequence(F.lit(1), F.length("name")),
                        lambda i: F.concat(
                            F.substring(F.col("name"), F.lit(1), i - 1),
                            F.substring(F.col("name"), i + 1, F.length("name")),
                        ),
                    ),
                )
            )
        ).alias("v"),
    ).select("name", F.xxhash64("v").alias("v"))
    cands = (
        variants.alias("a")
        .join(variants.alias("b"), "v")
        .filter(F.col("a.name") < F.col("b.name"))
        .select(F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b"))
        .distinct()
    )
    return cands.withColumn(
        "dist", F.levenshtein("name_a", "name_b").cast("bigint")
    ).filter(F.col("dist") <= 1)


@register("llm_fuzzy_pairs", oracle=_FUZZY_ORACLE, section="L1,L2,J8", bench=True)
def llm_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 entity resolution: near-identical name detection over the part
    catalog (typo-grade variants, edit distance ≤ 1) via deletion-
    neighborhood blocking — exact by construction, value-checked against
    a brute-force O(n²) levenshtein oracle. The same operator applies to
    any string key (URLs, titles, author names) in a curation pipeline."""
    part = load_table(spark, sf_dir, "part")
    return fuzzy_pairs_dist1(part.select(F.col("p_name").alias("name")))


