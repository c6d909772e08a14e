"""L1/L4/L5 corpus curation: decontamination (exact + Bloom),
chunking, packing, stratified + temperature sampling, train/val
split, mixture schedules, domain stats, end-to-end pipeline.

Split out of operators/llm.py (r13 — the single file reached 4.9k
lines); every public and test-visible name is re-exported by the
package ``__init__`` so ``operators.llm.<name>`` paths are unchanged.
"""


from __future__ import annotations

import numpy as np
import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import types as T

from ...sources.io import load_table
from ...plans.registry import register
from .._util import distributed_row_number, widen



# =============================================================================
# L1/L4/L5 corpus-curation extensions: decontamination, chunking,
# stratified sampling, PII redaction
# =============================================================================

_DECONTAM_N = 5  # token n-gram size for benchmark-overlap detection


def _token_ngrams(col: str = "text", n: int = _DECONTAM_N):
    """Whitespace-token n-grams as an array column — JVM higher-order
    functions only (sequence/transform/slice), zero Python."""
    toks = F.split(col, " ")
    size = F.size(toks)
    return F.when(
        size >= n,
        F.transform(
            F.sequence(F.lit(1), size - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))

_DECONTAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[i : i + {_DECONTAM_N - 1}], ' ') AS gram
  FROM toks,
       UNNEST(generate_series(1, greatest(len(t) - {_DECONTAM_N - 1}, 0))) AS s(i)
),
bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
),
hits AS (
  SELECT g.doc_id, COUNT(b.gram) AS n_overlap
  FROM grams g LEFT JOIN bench b USING (gram)
  WHERE g.doc_id % 97 <> 0
  GROUP BY g.doc_id
)
SELECT doc_id,
       n_overlap,
       CAST(n_overlap > 0 AS INTEGER) AS contaminated
FROM hits
"""


@register("llm_decontaminate", oracle=_DECONTAM_ORACLE, section="L1,L2,L4", bench=True)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    token 5-gram with a held-out benchmark set (here: ``doc_id % 97``,
    the stand-in for an eval suite). The canonical pre-training hygiene
    pass (GPT-3 §C / PaLM-style 'contamination' checks).

    Scale shape: n-grams are generated per row with JVM higher-order
    functions (sequence/transform/slice — zero Python), de-duplicated
    per document BEFORE the join so the shuffle carries distinct
    (doc_id, gram) pairs, and the benchmark side is a distinct-gram set
    that is tiny relative to the corpus — AQE picks a broadcast join at
    real benchmark sizes; no explicit broadcast so an SF-scaling
    stand-in cannot OOM executors (VERDICT r1 rule)."""
    docs = load_table(spark, sf_dir, "documents")
    # per-document gram dedup is ROW-LOCAL (r15, guide §2.4): an
    # array_distinct on the generated gram array replaces the old
    # `.distinct()` — which was a full exchange of every (doc_id, gram)
    # pair, the largest intermediate in the query — with zero shuffles;
    # the distinct (doc_id, gram) set is identical by construction —
    # given the invariant this relies on: doc_id is unique in documents
    # (tests/test_semantics.py::test_documents_doc_id_unique); duplicate
    # ids would inflate n_overlap relative to the oracle.
    exploded = docs.select(
        "doc_id", F.explode(F.array_distinct(_token_ngrams())).alias("gram")
    )
    bench = (
        exploded.where(F.col("doc_id") % 97 == 0).select("gram").distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = exploded.where(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(bench, "gram", "left")
        .groupBy("doc_id")
        .agg(F.count("hit").alias("n_overlap"))
        .select(
            "doc_id",
            "n_overlap",
            (F.col("n_overlap") > 0).cast("int").alias("contaminated"),
        )
    )


_BLOOM_K = 7  # hash functions per gram


@register("llm_decontaminate_bloom", oracle=_DECONTAM_ORACLE, section="L1,L2,L4")
def llm_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination, Bloom-filter scale path — identical
    semantics (and oracle) to ``llm_decontaminate``, different physical
    plan: the corpus-gram shuffle is pruned by a broadcast Bloom filter
    BEFORE the exact join, so at 100 TB only the tiny bloom-positive
    slice of corpus grams enters the shuffle (the Dolma/CCNet-style
    production pattern; Spark's own runtime-filter bloom is JVM-internal
    in this build, so the filter is built explicitly).

    Plan: (1) benchmark grams (small by definition — it's an eval
    suite) hash k ways JVM-side; their distinct bit positions collect to
    the driver (O(|bench| × k), bounded by the benchmark, never the
    corpus) into a packed uint64 bitmap sized 16 bits/gram (~0.04% FP
    at k=7). (2) The bitmap broadcasts; corpus grams probe it in a
    vectorized Arrow kernel over the k JVM-computed hashes — no Python
    string handling, just integer bit tests. (3) Bloom positives
    (matches + rare FPs) verify against the exact benchmark set; a
    final left join restores n_overlap=0 docs. Result is EXACT — the
    bloom only prunes."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize the split/explode/distinct pipeline ONCE — it feeds
    # four downstream actions (bench sizing count, bit-position collect,
    # bloom probe, final doc restore) that would otherwise each re-run
    # the full text tokenization
    # per-doc dedup row-locally (array_distinct) — same zero-shuffle
    # rewrite as llm_decontaminate above
    exploded = (
        docs.select(
            "doc_id", F.explode(F.array_distinct(_token_ngrams())).alias("gram")
        )
        .localCheckpoint()
    )
    # bench is itself read three times (count, bit positions, verify
    # join); checkpoint the small distinct-gram set too
    bench = (
        exploded.where(F.col("doc_id") % 97 == 0).select("gram").distinct()
        .localCheckpoint()
    )
    corpus = exploded.where(F.col("doc_id") % 97 != 0)

    n_bench = bench.count()  # scalar: sizes the filter
    m_bits = 1 << max(10, int(np.ceil(np.log2(max(n_bench, 1) * 16))))

    def _hashes(df: DataFrame) -> DataFrame:
        # k independent hashes via salted xxhash64 (seed param isn't
        # exposed in SQL; salting the input is equivalent)
        return df.select(
            df["*"],
            *[
                F.pmod(F.xxhash64(F.concat(F.col("gram"), F.lit(f"#{i}"))), F.lit(m_bits))
                .alias(f"h{i}")
                for i in range(_BLOOM_K)
            ],
        )

    pos_rows = (
        _hashes(bench)
        .select(
            F.explode(F.array(*[F.col(f"h{i}") for i in range(_BLOOM_K)])).alias("pos")
        )
        .distinct()
        .collect()
    )
    bitmap = np.zeros(m_bits >> 6, dtype=np.uint64)
    pos = np.array([r["pos"] for r in pos_rows], dtype=np.int64)
    if len(pos):
        np.bitwise_or.at(bitmap, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64))
    b = spark.sparkContext.broadcast(bitmap)

    @F.pandas_udf(T.BooleanType())
    def bloom_maybe(*hs: pd.Series) -> pd.Series:
        bm = b.value
        ok = np.ones(len(hs[0]), dtype=bool)
        for h in hs:
            hv = h.to_numpy(dtype=np.int64)
            ok &= (bm[hv >> 6] >> (hv & 63).astype(np.uint64)).astype(np.int64) & 1 > 0
        return pd.Series(ok)

    candidates = (
        _hashes(corpus)
        .where(bloom_maybe(*[F.col(f"h{i}") for i in range(_BLOOM_K)]))
        .select("doc_id", "gram")
    )
    verified = (
        candidates.join(bench.withColumn("hit", F.lit(1)), "gram", "left")
        .groupBy("doc_id")
        .agg(F.count("hit").alias("n_overlap"))
    )
    return (
        corpus.select("doc_id").distinct()
        .join(verified, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


_CHUNK_SIZE = 32  # tokens per training chunk
_CHUNK_STRIDE = 24  # overlap = size - stride = 8 tokens

_CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
)
SELECT doc_id,
       k AS chunk_idx,
       CAST(len(t[k * {_CHUNK_STRIDE} + 1 : least(k * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, len(t))]) AS BIGINT)
         AS n_chunk_tokens,
       md5(array_to_string(t[k * {_CHUNK_STRIDE} + 1 : least(k * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, len(t))], ' '))
         AS chunk_fp
FROM toks,
     UNNEST(generate_series(0, (len(t) - 1) // {_CHUNK_STRIDE})) AS s(k)
"""


@register("llm_chunk_documents", oracle=_CHUNK_ORACLE, section="L4")
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-chunk generation: split each document into overlapping
    32-token windows on a 24-token stride (chunk k covers tokens
    [k*stride+1, k*stride+size]) — the tokenize-and-pack step of a
    pre-training data loader. Chunk text leaves the query as an md5
    fingerprint so the result stays narrow.

    Per-row generate-and-explode with JVM built-ins only; no shuffle at
    all — a 100 TB corpus chunks embarrassingly parallel at scan
    speed."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    ks = F.sequence(F.lit(0), ((n - 1) / F.lit(_CHUNK_STRIDE)).cast("int"))
    out = docs.select("doc_id", F.explode(ks).alias("chunk_idx"), toks.alias("t"))
    start = F.col("chunk_idx") * _CHUNK_STRIDE + 1
    length = F.least(
        F.lit(_CHUNK_SIZE),
        F.size("t") - F.col("chunk_idx") * _CHUNK_STRIDE,
    )
    chunk = F.slice("t", start, length)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_fp"),
    )


# per-stratum keep thresholds on the first 4 hex chars of md5(doc_id):
# lexicographic compare == uniform 16-bit threshold, identical in both engines
_STRATA_THRESH = {"en": "8000", "zh": "4000"}  # 50% / 25%; default 10%
_DEFAULT_THRESH = "199a"

_STRATIFIED_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, lang, source,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS sample_key
  FROM documents
)
SELECT doc_id, lang, source, sample_key
FROM keyed
WHERE sample_key < CASE lang
                     WHEN 'en' THEN '{_STRATA_THRESH["en"]}'
                     WHEN 'zh' THEN '{_STRATA_THRESH["zh"]}'
                     ELSE '{_DEFAULT_THRESH}'
                   END
"""


@register("llm_sample_stratified", oracle=_STRATIFIED_ORACLE, section="L5,F2")
def llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus mixing: keep a
    per-language rate (en 50%, zh 25%, default 10%) by thresholding the
    first 16 bits of md5(doc_id) — the hash-mod sampling trick that is
    reproducible across engines, runs, and partitionings (unlike
    TABLESAMPLE), so a 100 TB mixture recipe is auditable row by row.

    Pure per-row filter: no shuffle, no state; the md5 costs one JVM
    call per row and the filter fuses into the scan's codegen stage."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thresh = F.when(F.col("lang") == "en", _STRATA_THRESH["en"]).when(
        F.col("lang") == "zh", _STRATA_THRESH["zh"]
    ).otherwise(_DEFAULT_THRESH)
    return (
        docs.select("doc_id", "lang", "source", key.alias("sample_key"))
        .where(F.col("sample_key") < thresh)
    )


_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_LONGNUM_RE = r"[0-9]{7,}"

_PII_ORACLE = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or call '
              || CAST(doc_id * 7919 + 1000000 AS VARCHAR) || ' now' AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_LONGNUM_RE}')) AS BIGINT) AS n_longnums,
       md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_LONGNUM_RE}', '<NUM>', 'g')) AS redacted_fp
FROM aug
"""


@register("llm_pii_redact", oracle=_PII_ORACLE, section="L5,X1")
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: find-and-replace emails and long digit runs
    (phone/account numbers) with placeholder tokens, counting each —
    the redaction pass every public-corpus pipeline runs before
    training. The fixtures carry no PII, so a deterministic synthetic
    tail (an email + a number derived from doc_id) is appended
    identically in both engines to prove the scrubber actually fires;
    the redacted text leaves as an md5 fingerprint.

    Per-row regexp in the JVM (both engines' regex subsets agree on
    these patterns; DuckDB needs the 'g' flag to match Spark's
    replace-all default); no shuffle — scan-speed at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call "),
        (F.col("doc_id") * 7919 + 1000000).cast("string"),
        F.lit(" now"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _LONGNUM_RE, "<NUM>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(_EMAIL_RE), 0)).cast("bigint").alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(_LONGNUM_RE), 0)).cast("bigint").alias("n_longnums"),
        F.md5(redacted).alias("redacted_fp"),
    )


_HH_THRESHOLD = 200  # absolute corpus frequency bound for "heavy"

_HH_ORACLE = f"""
SELECT token, COUNT(*) AS freq
FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
GROUP BY token
HAVING COUNT(*) >= {_HH_THRESHOLD}
"""


@register("llm_heavy_hitters", oracle=_HH_ORACLE, section="L4,A1")
def llm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent-token mining (vocabulary heavy hitters ≥ 200
    occurrences) WITHOUT shuffling the token stream — the
    candidate-then-verify pattern:

    pass 1: each partition counts its own tokens in a dict and emits
    only tokens with local count ≥ T/P (P = partition count). By
    pigeonhole, any token with global freq ≥ T clears that bar in at
    least one partition, so the candidate set is a guaranteed superset
    — and tiny (skewed-head tokens only).
    pass 2: exact recount of candidates only — a left-semi join prunes
    the exploded token stream BEFORE the groupBy, so the shuffle
    carries just candidate tokens; the final HAVING restores the exact
    answer. Deterministic for every partitioning: the candidate bar
    only over-admits, and verification is exact.

    At 100 TB this is the difference between shuffling ~10^12 token
    rows and shuffling the few thousand that might matter; the second
    scan is the price, and scans are the cheap currency. Oracle: plain
    GROUP BY ... HAVING — bit-equal."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    wide = widen(docs)
    n_parts = wide.rdd.getNumPartitions()
    local_bar = max(1, _HH_THRESHOLD // n_parts)

    def _local_counts(batches):
        from collections import Counter

        counts: Counter = Counter()
        for pdf in batches:
            for t in pdf["text"]:
                counts.update((t or "").lower().split())
        out = [(tok, c) for tok, c in counts.items() if c >= local_bar]
        yield pd.DataFrame(out, columns=["token", "local_freq"]).astype(
            {"token": "string", "local_freq": "int64"}
        )

    candidates = (
        wide.mapInPandas(_local_counts, "token string, local_freq bigint")
        .select("token")
        .distinct()
    )
    tokens = docs.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
    return (
        tokens.join(candidates, "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") >= _HH_THRESHOLD)
    )


_PPLX_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
  FROM documents
),
lm AS (
  SELECT token,
         COUNT(*) AS freq,
         (SELECT COUNT(*) FROM tok) AS total
  FROM tok GROUP BY token
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(-AVG(ln(CAST(lm.freq AS DOUBLE) / lm.total)), 4) AS avg_neg_logprob
FROM tok t JOIN lm USING (token)
GROUP BY t.doc_id
"""


@register("llm_perplexity_proxy", oracle=_PPLX_ORACLE, section="L5,A1,J1")
def llm_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy (the CCNet-style quality signal
    without a trained model): build the corpus unigram distribution,
    score every document by its mean negative log-probability —
    high = surprising/rare vocabulary, low = boilerplate. The full
    LM-filter shape: train a model ON the corpus, score the corpus
    WITH it, in one declarative plan.

    Scale shape: the LM is a token-grain aggregate (map-side combined);
    scoring re-joins tokens to the LM on the token key — a skewed join
    AQE handles (head tokens are hot but carry one tiny LM row; at
    100 TB the LM table is vocabulary-sized, candidate for broadcast by
    stats). AVG of logs is order-independent to 1e-15; round(4) absorbs
    engine summation-order noise (parity rule 12)."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    )
    tok = tok.persist()
    lm = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    total = tok.count()
    return (
        tok.join(lm, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                -F.avg(F.log(F.col("freq").cast("double") / F.lit(float(total)))), 4
            ).alias("avg_neg_logprob"),
        )
    )


_BASKET_ORACLE = """
WITH lines AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
  FROM lines a JOIN lines b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_orders
FROM pairs
WHERE n_orders >= 2
"""


@register("analytics_basket_affinity", oracle=_BASKET_ORACLE, section="A1,J1,W1")
def analytics_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing together in ≥2
    orders — the recommender-feed rollup a serving layer materializes.

    Scale shape: the pair enumeration is an equi self-join on
    l_orderkey — pairs are generated per order (baskets are small:
    ~4 lines), never across orders, so the blow-up is Σ b_i², not N².
    The DISTINCT first collapses multi-line duplicates of the same part
    before pairing; the support filter keeps the output at
    head-pair size."""
    lines = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = lines.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = lines.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 2)
    )


# =============================================================================
# L5 temperature-scaled mixture sampling (mT5/XLM-R data recipe)
# =============================================================================

_TEMP_TARGET_FRAC = 0.5  # overall corpus fraction to keep

_TEMP_SAMPLE_ORACLE = f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
),
targets AS (
  SELECT lang, n,
         CAST(FLOOR(FLOOR(SUM(n) OVER () * {_TEMP_TARGET_FRAC})
                    * SQRT(n) / SUM(SQRT(n)) OVER ()) AS BIGINT) AS t
  FROM counts
),
ranked AS (
  SELECT d.doc_id, d.lang,
         md5(CAST(d.doc_id AS VARCHAR)) AS sample_key,
         ROW_NUMBER() OVER (
           PARTITION BY d.lang
           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
         ) AS rn,
         t.t
  FROM documents d JOIN targets t USING (lang)
)
SELECT doc_id, lang, sample_key FROM ranked WHERE rn <= t
"""


@register("llm_sample_temperature", oracle=_TEMP_SAMPLE_ORACLE, section="L5,W1")
def llm_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 temperature-scaled mixture sampling (α = 0.5): per-language
    sample sizes ∝ sqrt(corpus share) — the mT5/XLM-R recipe that
    up-weights low-resource languages relative to proportional
    sampling. Selection is RANK-based, not rate-based: each language
    keeps its t_l lowest-md5 documents, so once the L per-language
    integer targets agree across engines the selected set is exact
    integer semantics (the only float math — sqrt over counts — feeds
    a floor() whose inputs are irrational, never at a boundary).

    Scale shape: the per-language histogram is L rows; the targets
    join back is left to AQE, which sees an L-row side at runtime and
    broadcasts it (no explicit hint — the repo rule is that hints only
    wrap provably fixed-size relations, and this one is an aggregate
    OF a scaling table); the per-language rank shuffles by lang and
    sorts on the 16-hex-char key. At 100 TB you would pre-filter with
    an estimated key threshold (≈ t_l/n_l of the keyspace, slightly
    padded) before ranking so the sort sees ~t_l rows per language —
    same trick as heavy-hitters' candidate pruning; at fixture scale
    the direct rank is the clearer plan."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    w_all = Window.partitionBy()
    targets = counts.select(
        "lang",
        F.floor(
            F.floor(F.sum("n").over(w_all) * F.lit(_TEMP_TARGET_FRAC))
            * F.sqrt("n")
            / F.sum(F.sqrt("n")).over(w_all)
        )
        .cast("bigint")
        .alias("t"),
    )
    key = F.md5(F.col("doc_id").cast("string"))
    w_lang = Window.partitionBy("lang").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        docs.join(targets, "lang")
        .select(
            "doc_id",
            "lang",
            key.alias("sample_key"),
            F.row_number().over(w_lang).alias("rn"),
            "t",
        )
        .filter(F.col("rn") <= F.col("t"))
        .select("doc_id", "lang", "sample_key")
    )


# =============================================================================
# L5 mixture interleave schedule (stride scheduling over domain weights)
# =============================================================================

_MIX_WEIGHTS = {"en": 0.5, "de": 0.2, "fr": 0.2, "ja": 0.1}
_MIX_WEIGHT_SQL = "CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.2 WHEN 'fr' THEN 0.2 ELSE 0.1 END"

_MIX_SCHEDULE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
         CAST({_MIX_WEIGHT_SQL} AS DOUBLE) AS w
  FROM documents
), striped AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY shuffle_key, doc_id) AS rn,
         w
  FROM d
)
SELECT doc_id, lang,
       ROW_NUMBER() OVER (ORDER BY rn / w, lang, rn) AS position
FROM striped
"""


@register("llm_mix_schedule", oracle=_MIX_SCHEDULE_ORACLE, section="L5,W1,O1")
def llm_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 training-order construction: interleave domains at target
    mixture weights via STRIDE SCHEDULING — domain d's k-th document
    is placed at virtual time k/w_d, and the global order sorts by
    that virtual time (ties broken by domain then stride), so EVERY
    prefix of the schedule holds ≈ w_d·L documents of each domain.
    That prefix property is what distinguishes this from sampling: a
    training run stopped at any step has seen the target mixture.
    Within-domain order is a deterministic md5 shuffle (seeded, not
    RNG), so the whole schedule is a pure function of the corpus —
    full oracle. Prefix-mixture property is pytest-asserted.

    SCALE (the round-5 fix — this was the worst of the perf-weak trio
    because the frame is the RAW CORPUS): both ranks are two-pass
    distributed row_numbers (`distributed_row_number`): the per-domain
    stripe rank buckets on a numeric prefix of the md5 shuffle key
    (monotone in the string order, ties stay in one bucket) and ranks
    within (lang, bucket); the global position rank buckets on virtual
    time rn/w. Every task holds ~1/32 of its frame; the only global
    structures are the ≤32×|langs|-row offset frames — constant-
    bounded, broadcast. The stripe stage is localCheckpoint-pinned so
    the three jobs of the second pass (boundaries, counts, rank) reuse
    it instead of recomputing the first pass."""
    docs = load_table(spark, sf_dir, "documents")
    w_expr = (
        F.when(F.col("lang") == "en", 0.5)
        .when(F.col("lang") == "de", 0.2)
        .when(F.col("lang") == "fr", 0.2)
        .otherwise(0.1)
        .cast("double")
    )
    keyed = docs.select(
        "doc_id",
        "lang",
        F.md5(F.col("doc_id").cast("string")).alias("_sk"),
        w_expr.alias("w"),
    )
    # numeric bucketing proxy for the hex shuffle key: the first 15 hex
    # chars as a BIGINT — monotone (non-strict) in the string order, so
    # bucket ranges respect it; exact order within buckets still uses
    # the full (_sk, doc_id) total order
    striped = distributed_row_number(
        keyed.withColumn("_skn", F.conv(F.substring("_sk", 1, 15), 16, 10).cast("bigint")),
        key=F.col("_skn"),
        order_by=[F.col("_sk"), F.col("doc_id")],
        partition_by=("lang",),
        out="rn",
    ).select("doc_id", "lang", "rn", "w").localCheckpoint()
    return distributed_row_number(
        striped,
        key=F.col("rn") / F.col("w"),
        order_by=[F.col("rn") / F.col("w"), F.col("lang"), F.col("rn")],
        out="position",
    ).select("doc_id", "lang", "position")


