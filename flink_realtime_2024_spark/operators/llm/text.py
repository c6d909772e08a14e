"""L4/L5 text analysis: wordcount/TF-IDF/token-count/text-stats,
Gopher-style quality rules, language ID, BPE tokenizer train/encode,
HTML main-content extraction.

Split out of operators/llm.py (r13 — the single file reached 4.9k
lines); every public and test-visible name is re-exported by the
package ``__init__`` so ``operators.llm.<name>`` paths are unchanged.
"""


from __future__ import annotations

import re
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import types as T

from ...observability import await_observation
from ...sources.io import load_table
from ...plans.registry import register


# =============================================================================
# L4/L5 text analysis
# =============================================================================

_WORDCOUNT_ORACLE = """
SELECT token, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
"""


@register("llm_wordcount", oracle=_WORDCOUNT_ORACLE, section="L4", bench=True)
def llm_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 corpus word count + document frequency — pure built-ins
    (split/explode/groupBy), the UDF-free fast path."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"), F.countDistinct("doc_id").alias("df"))
    )


_TOKENCOUNT_ORACLE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)
         AS n_tokens,
       n_chars
FROM documents
"""


@register("llm_token_count", oracle=_TOKENCOUNT_ORACLE, section="L4")
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 BPE-ish token counting: letter-runs | digit-runs | single
    punctuation, all JVM-side regex."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))
        .cast("bigint")
        .alias("n_tokens"),
        "n_chars",
    )


_STOPWORDS = "the a an of and or to in is are was were be been it this that for on with as at by from".split()

_TEXT_STATS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, n_chars,
         string_split(lower(text), ' ') AS toks,
         length(text) AS len_chars
  FROM documents
)
SELECT doc_id, lang, len_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(toks, x -> list_contains({_STOPWORDS!r}, x))) AS BIGINT)
         AS n_stopwords,
       CAST(len(list_filter(toks, x -> list_contains({_STOPWORDS!r}, x))) AS DOUBLE)
         / len(toks) AS stopword_ratio,
       CAST(len_chars AS DOUBLE) / len(toks) AS avg_token_len,
       CASE WHEN CAST(len(list_filter(toks, x -> list_contains({_STOPWORDS!r}, x))) AS DOUBLE)
                 / len(toks) >= 0.05 THEN 'en' ELSE 'other' END AS lang_guess,
       CAST(len(toks) >= 10 AND len_chars / len(toks) <= 12 AS INTEGER) AS quality_ok
FROM t
"""


@register("llm_text_stats", oracle=_TEXT_STATS_ORACLE, section="L5", bench=True)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 quality scoring + n-gram-heuristic language ID: token counts,
    stopword ratio (the lang-id signal), avg token length, a quality
    gate — all JVM higher-order functions, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    toks = F.split(F.lower("text"), " ")
    n_tokens = F.size(toks).cast("bigint")
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("bigint")
    len_chars = F.length("text")
    stop_ratio = n_stop.cast("double") / n_tokens
    return docs.select(
        "doc_id",
        "lang",
        len_chars.alias("len_chars"),
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        stop_ratio.alias("stopword_ratio"),
        (len_chars.cast("double") / n_tokens).alias("avg_token_len"),
        F.when(stop_ratio >= 0.05, "en").otherwise("other").alias("lang_guess"),
        ((n_tokens >= 10) & (len_chars / n_tokens <= 12)).cast("int").alias("quality_ok"),
    )


# --- L4/L5 corpus-level summary ----------------------------------------------------

_CORPUS_STATS_ORACLE = """
SELECT COUNT(*) AS n_docs,
       CAST(SUM(len(string_split_regex(lower(text), '\\s+'))) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(MAX(length(text)) AS BIGINT) AS max_chars
FROM documents
"""


@register("llm_corpus_stats", oracle=_CORPUS_STATS_ORACLE, section="L4,L5,A1")
def llm_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4/L5 corpus-level rollup (the dataset card numbers): doc count,
    token and char totals, language count — one global aggregate with
    map-side partial combining; the only cross-partition traffic is one
    partial-aggregate row per task."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), r"\s+")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.max(F.length("text")).cast("bigint").alias("max_chars"),
    )


# --- L4 TF-IDF keyword extraction ---------------------------------------------------

_TFIDF_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tk FROM documents
), tf AS (
  SELECT doc_id, tk, COUNT(*) AS tf FROM tok GROUP BY 1, 2
), df AS (
  SELECT tk, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
), nd AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok
), scored AS (
  SELECT tf.doc_id, tf.tk,
         round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (tk) CROSS JOIN nd
  WHERE df.df > 1
)
SELECT doc_id, tk AS keyword, tfidf, rn FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, tk
  ) AS rn FROM scored
) WHERE rn <= 3
"""


@register("llm_tfidf", oracle=_TFIDF_ORACLE, section="L4,A1,W1")
def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 TF-IDF keyword extraction (the reference's keyword-frequency
    DWS job shape): token TF per doc, corpus DF, idf = ln(N/df), top-3
    keywords per doc. Scores are quantized to 1e-6 BEFORE ranking with
    the token as tiebreaker, so ulp-level libm differences can't flip
    the ranking between engines (parity rule 7). All shuffles are
    keyed (doc, token) — two-phase aggregation throughout; the DF table
    is the only corpus-global state and it's O(vocabulary)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tk")
    )
    tf = tok.groupBy("doc_id", "tk").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("tk").agg(F.countDistinct("doc_id").alias("df")).filter(
        F.col("df") > 1
    )
    n_docs = tok.select("doc_id").distinct().count()
    scored = tf.join(df, "tk").select(
        "doc_id",
        "tk",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tk"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", F.col("tk").alias("keyword"), "tfidf", F.col("rn").cast("bigint").alias("rn"))
    )


# --- L5 Gopher-style quality rules + repetition stats -------------------------------

_GOPHER_ORACLE = """
WITH t AS (
  SELECT doc_id,
         string_split_regex(lower(text), '\\s+') AS w,
         length(text) - length(replace(text, '#', '')) AS n_hash
  FROM documents
), s AS (
  SELECT doc_id, w, n_hash,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha
  FROM t
)
SELECT doc_id, n_words,
       round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / n_words, 6)
         AS mean_word_len,
       round(CAST(n_alpha AS DOUBLE) / n_words, 6) AS alpha_frac,
       round(CAST(n_hash AS DOUBLE) / n_words, 6) AS symbol_ratio,
       CAST(n_words BETWEEN 50 AND 100000
            AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / n_words
                BETWEEN 3 AND 10
            AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
            AND CAST(n_hash AS DOUBLE) / n_words <= 0.1 AS INTEGER) AS passes
FROM s
"""


@register("llm_quality_gopher", oracle=_GOPHER_ORACLE, section="L5", bench=True)
def llm_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 Gopher-rule quality gate (Rae et al. 2021 §A1.1, public): word
    count bounds, mean word length in [3,10], ≥80% words containing an
    alphabetic char, symbol-to-word ratio ≤ 0.1. All JVM higher-order
    functions on the tokens array — per-row, no shuffle, the canonical
    pre-training corpus filter shape."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower("text"), r"\s+")
    n_words = F.size(w).cast("bigint")
    sum_len = F.aggregate(
        F.transform(w, lambda x: F.length(x).cast("bigint")), F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("bigint")
    n_hash = (F.length("text") - F.length(F.regexp_replace("text", "#", ""))).cast("bigint")
    mean_wl = sum_len.cast("double") / n_words
    alpha_frac = n_alpha.cast("double") / n_words
    symbol_ratio = n_hash.cast("double") / n_words
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        (
            n_words.between(50, 100000)
            & mean_wl.between(3, 10)
            & (alpha_frac >= 0.8)
            & (symbol_ratio <= 0.1)
        )
        .cast("int")
        .alias("passes"),
    )


_REPETITION_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents
), g AS (
  SELECT doc_id, w,
         CASE WHEN len(w) >= 2
              THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
              ELSE [] END AS g2
  FROM t
), tok AS (
  SELECT doc_id, unnest(w) AS tk FROM t
), topf AS (
  SELECT doc_id, MAX(c) AS top_c FROM (
    SELECT doc_id, tk, COUNT(*) AS c FROM tok GROUP BY doc_id, tk
  ) GROUP BY doc_id
)
SELECT g.doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       round(CAST(top_c AS DOUBLE) / len(w), 6) AS top_token_frac,
       round(1 - CAST(len(list_distinct(g2)) AS DOUBLE) / NULLIF(len(g2), 0), 6)
         AS dup_2gram_frac
FROM g JOIN topf ON topf.doc_id = g.doc_id
"""


@register("llm_repetition_stats", oracle=_REPETITION_ORACLE, section="L5")
def llm_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 repetition filters (Gopher §A1.1): most-frequent-token
    fraction (explode + per-doc groupBy — the one shuffle, keyed by
    doc so it scales flat) and duplicate-2-gram fraction (within-row
    array_distinct, no shuffle). High values flag boilerplate/spam
    before training."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower("text"), r"\s+")
    base = docs.select("doc_id", w.alias("w"))
    g2 = F.when(
        F.size("w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.concat_ws(" ", F.element_at("w", i), F.element_at("w", i + 1)),
        ),
    ).otherwise(F.array())
    topf = (
        base.select("doc_id", F.explode("w").alias("tk"))
        .groupBy("doc_id", "tk")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    return (
        base.withColumn("g2", g2)
        .join(topf, "doc_id")
        .select(
            "doc_id",
            F.size("w").cast("bigint").alias("n_tokens"),
            F.round(F.col("top_c").cast("double") / F.size("w"), 6).alias("top_token_frac"),
            F.round(
                F.lit(1)
                - F.size(F.array_distinct("g2")).cast("double")
                / F.nullif(F.size("g2"), F.lit(0)),
                6,
            ).alias("dup_2gram_frac"),
        )
    )


# --- L3/X4 embedding vector ops as JVM higher-order functions ----------------------

_EMB_NORM_ORACLE = """
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6)
         AS l2_norm
FROM embeddings
"""


@register("llm_embedding_norms", oracle=_EMB_NORM_ORACLE, section="L3,X4")
def llm_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector math WITHOUT Python: per-row L2 norm via transform +
    aggregate (Spark's higher-order array functions) — stays inside
    whole-stage codegen, no UDF crossing, embarrassingly parallel at
    any scale. Both engines reduce the array sequentially, so the
    float64 sum is order-identical; round(6) absorbs last-ulp noise.
    (Also the pipeline's normalization sanity check: fixture embeddings
    are pre-normalized ⇒ l2_norm ≈ 1.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    ssum = F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(F.sqrt(ssum), 6).alias("l2_norm"),
    )


_COS_PAIRS_ORACLE = """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
         AS cosine
FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
"""


@register("llm_cosine_pairs", oracle=_COS_PAIRS_ORACLE, section="L3,X4,J1")
def llm_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine (pre-normalized ⇒ dot product) via zip_with +
    aggregate on an equi-join of consecutive vec_ids — the JVM-side
    similarity kernel for when per-pair scoring rides an existing join
    (vs the batched BLAS kernel in llm_knn_cosine for all-pairs top-k).
    One shuffle on the derived join key; zero Python."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("vec_b") == F.col("vec_a") + 1)
        .select("vec_a", "vec_b", F.round(dot, 6).alias("cosine"))
    )


# --- L5 multi-language ID ----------------------------------------------------------

_LANG_MARKERS: dict[str, list[str]] = {
    # tiny high-frequency function-word sets; distinct hits are the score
    "en": "the and of to in is for with that on".split(),
    "de": "der die und das nicht ist ich ein zu mit".split(),
    "fr": "le les et des une que pour dans qui pas".split(),
    "es": "el los las una por con para como pero más".split(),
}

_LANG_ID_ORACLE = f"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-zà-ÿ]+') AS words FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(list_intersect(words, {_LANG_MARKERS['en']!r})) AS BIGINT) AS en_hits,
         CAST(len(list_intersect(words, {_LANG_MARKERS['de']!r})) AS BIGINT) AS de_hits,
         CAST(len(list_intersect(words, {_LANG_MARKERS['fr']!r})) AS BIGINT) AS fr_hits,
         CAST(len(list_intersect(words, {_LANG_MARKERS['es']!r})) AS BIGINT) AS es_hits
  FROM w
)
SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
       CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
            WHEN de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
            WHEN fr_hits >= es_hits THEN 'fr'
            ELSE 'es' END AS lang_id
FROM s
"""


@register("llm_lang_id", oracle=_LANG_ID_ORACLE, section="L5", bench=True)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 language identification via function-word (stopword-marker)
    scoring: per language, count DISTINCT marker words present (an
    n-gram-class heuristic — word unigrams); argmax with a fixed
    precedence order (en>de>fr>es) so ties are deterministic on both
    engines. Entirely JVM-side: regexp token extraction +
    array_intersect — zero Python, one narrow scan, no shuffle at all
    (per-row classification parallelizes embarrassingly at 100 TB)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.regexp_extract_all(F.lower("text"), F.lit("[a-zà-ÿ]+"), 0)
    hits = {
        lang: F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in ws])))
        .cast("bigint")
        .alias(f"{lang}_hits")
        for lang, ws in _LANG_MARKERS.items()
    }
    scored = docs.select("doc_id", *hits.values())
    en, de, fr, es = (F.col(f"{l}_hits") for l in ("en", "de", "fr", "es"))
    return scored.select(
        "doc_id",
        "en_hits",
        "de_hits",
        "fr_hits",
        "es_hits",
        F.when((en >= de) & (en >= fr) & (en >= es), "en")
        .when((de >= fr) & (de >= es), "de")
        .when(fr >= es, "fr")
        .otherwise("es")
        .alias("lang_id"),
    )


# =============================================================================
# L4 BPE tokenizer training + encoding (beyond reference — training-data
# pipelines train their own tokenizers on the corpus they curate)
# =============================================================================

# Merges learned by the REGISTERED query / default call: a demo-sized
# vocab (the driver samples this id at sf0.01 — each extra merge round
# is a full candidate aggregate, and 24 rounds cost ~15 s of the 50-id
# sampling-prefix wall for no extra evidence; r5 advice item 7). The
# equivalence/property tests train 5–12 merges EXPLICITLY against the
# pure-Python reference, so the algorithmic contract is untouched.
_BPE_MERGES = 8
_BPE_CAND_WINDOW = 128  # pair-count rows collected per round (batch mode)
# Reduce-task sizing for the per-round pair aggregate (guide §2.2): one
# adjacent-pair row is ~50 B (two short tokens + a long), so 2M rows ≈
# 100 MB per reduce task — the advisory partition size. The loop width
# is ceil(measured pair rows / this), so it grows with the histogram
# (Heaps-law in the corpus) and collapses to 1 for test-scale vocabs.
_BPE_PAIR_ROWS_PER_TASK = 2_000_000
_BPE_EOW = "</w>"  # end-of-word marker (Sennrich et al. 2016 convention)


def _bpe_word_histogram(docs: DataFrame) -> DataFrame:
    """(word, weight) histogram — the ONLY corpus-scale pass in BPE
    training. Everything iterative afterwards runs over distinct words,
    whose count grows ~O(corpus^0.5) (Heaps' law), not linearly: at
    100 TB the corpus never re-enters the loop."""
    return (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def _bpe_merge_pair(s: list[str], a: str, b: str) -> list[str]:
    """Left-to-right non-overlapping replacement of adjacent (a, b)
    with their concatenation — the one subtle BPE rewrite rule, kept as
    the plain-Python reference that the native ``_bpe_apply`` chain
    (shared by the trainer and the encoder) is pytest-asserted against."""
    merged = a + b
    res: list[str] = []
    i = 0
    while i < len(s):
        if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
            res.append(merged)
            i += 2
        else:
            res.append(s[i])
            i += 1
    return res


# Paired open/close token delimiters: a word's symbol sequence lives as
# ONE string, every token wrapped open·tok·close — the same encoding and
# the same two code points the committed DuckDB training oracle uses
# (_bpe_cte_chain below documents why SINGLE delimiters would be wrong).
_BPE_TOK_OPEN = "\x1e"
_BPE_TOK_CLOSE = "\x1f"
# The candidates SQL treats _BPE_TOK_CLOSE + _BPE_TOK_OPEN as a Java REGEX
# split pattern (ADVICE r14 #3): pin the delimiters as regex-metachar-free
# so a future change to either code point fails loudly here instead of
# silently corrupting the rewrite.
assert re.escape(_BPE_TOK_CLOSE + _BPE_TOK_OPEN) == _BPE_TOK_CLOSE + _BPE_TOK_OPEN, (
    "BPE token delimiters must stay regex-safe: they are used verbatim "
    "as split() patterns"
)
# Token text is escaped per character: every code point below ' ' becomes
# _BPE_ESC + chr(c + 32). The escaped text never holds a delimiter, and the
# escape is a homomorphism (esc(a + b) == esc(a) + esc(b)), prefix-free and
# order-preserving, so replace literals, the a+b occupancy test and the
# (cnt DESC, a, b) tie-break all behave as on the raw text — on which it is
# the identity whenever no control character occurs.
_BPE_ESC = "\x1d"
_BPE_ESC_TABLE = {c: _BPE_ESC + chr(c + 32) for c in range(32)}
# _bpe_render's Spark form: the marker itself is escaped first, then every
# other control char that can occur inside a word (all but the Java \s
# separators \t \n \v \f \r) is marked and shifted by 32.
_BPE_WORD_CTRL = [c for c in range(32) if c not in (9, 10, 11, 12, 13, ord(_BPE_ESC))]
_BPE_ESC_RE = "[" + "".join(f"\\x{c:02x}" for c in _BPE_WORD_CTRL) + "]"
_BPE_ESC_SHIFT = (
    "".join(chr(c) for c in _BPE_WORD_CTRL),
    "".join(chr(c + 32) for c in _BPE_WORD_CTRL),
)


def _bpe_tok(t: str) -> str:
    """One token as it appears in a rendered word: escaped and wrapped."""
    return _BPE_TOK_OPEN + t.translate(_BPE_ESC_TABLE) + _BPE_TOK_CLOSE


def _bpe_unesc(t: str) -> str:
    """Inverse of the token escape, for tokens read back from Spark."""
    return re.sub(_BPE_ESC + "(.)", lambda m: chr(ord(m[1]) - 32), t, flags=re.S)


def _bpe_render(text) -> F.Column:
    """Render every word of a string column (maximal runs of non-Java-
    ``\\s`` chars, the trainer's tokenizer) as its initial symbol
    string: chars + ``</w>``, each token as ``_bpe_tok`` renders it; the
    whitespace between words stays, so no ``_bpe_apply`` literal (whose
    tokens abut) can match across words. The same render serves one
    histogram word and a whole document, all in native string ops."""
    esc = F.replace(text, F.lit(_BPE_ESC), F.lit(_BPE_ESC + "="))
    esc = F.regexp_replace(esc, _BPE_ESC_RE, _BPE_ESC + "$0")
    esc = F.translate(esc, *_BPE_ESC_SHIFT)
    # a unit is one escape pair or one other non-space char; every word's
    # last unit (a close followed by a separator or the end) gains </w>
    units = F.regexp_replace(
        esc, _BPE_ESC + r".|\S", _BPE_TOK_OPEN + "$0" + _BPE_TOK_CLOSE
    )
    return F.regexp_replace(
        units, _BPE_TOK_CLOSE + r"(?=\s|\z)", _BPE_TOK_CLOSE + _bpe_tok(_BPE_EOW)
    )


def _bpe_apply(r, merges) -> F.Column:
    """Apply ``merges`` (raw (a, b) pairs) in rank order to a rendered
    column: each is one native ``replace`` of tok(a)·tok(b) with tok(ab).
    ``replace`` scans left to right and resumes AFTER each replacement,
    which with PAIRED delimiters is exactly ``_bpe_merge_pair``'s
    non-overlapping rewrite ([a,a,a,a] → [aa,aa])."""
    for a, b in merges:
        r = F.replace(r, F.lit(_bpe_tok(a) + _bpe_tok(b)), F.lit(_bpe_tok(a + b)))
    return r


def _bpe_select_batch(
    cands: list, window: int, max_batch: int
) -> list:
    """Select a prefix of the (cnt desc, a, b)-ordered candidate rows
    that can be merged in ONE distributed rewrite pass while remaining
    provably identical to 1-merge-per-round training:

    1. greedily accept candidates whose symbols are disjoint from every
       previously accepted pair's {left, right, merged} symbol set
       (the `merged` membership guards coincidental string equality —
       a pre-existing symbol spelled exactly like a new merge's
       output); STOP scanning at the first conflict, whose count is
       ``c_fc`` (if the window ends conflict-free, c_fc is the last
       collected count, or 0 when the window held every pair);
    2. keep the argmax unconditionally (it is the sequential choice by
       definition), then keep each further accepted pair q only while
       ``q.cnt > c_fc + Rmax + Lmax``, where Rmax/Lmax are the largest
       observed counts of pairs whose left symbol equals an
       already-kept merge's right / whose right symbol equals an
       already-kept merge's left (floored at the window tail count
       when the window didn't exhaust the pair table).

    Why this is exact, not heuristic: counts of mutually disjoint
    pairs are invariant under each other's application, so the kept
    pairs' counts and relative (cnt desc, a, b) order never change
    mid-batch. Any OTHER pair p's post-count is bounded by its
    pre-count (≤ c_fc — every conflicting or unseen pair ranks at or
    after the first conflict) plus created occurrences: a created
    occurrence of p consumes a pre-adjacency whose left symbol is some
    kept merge's right (for (merged, y) shapes) or whose right symbol
    is some kept merge's left (for (x, merged) shapes) — occupancy
    guarantees at most one kept merge can own each side of p, so
    gain(p) ≤ Rmax + Lmax. A kept pair strictly above c_fc + Rmax +
    Lmax therefore remains the running argmax at its step, and
    sequential training would pick exactly this batch in exactly this
    order (equality is pytest-asserted against a sequential
    reference). Counts are non-increasing in scan order, so the first
    candidate failing the bound ends the batch. Early char-level
    rounds on natural text batch rarely (top pairs genuinely
    interact); the win grows as merges decouple the symbol space."""
    first = cands[0]
    occupied = {first["a"], first["b"], first["a"] + first["b"]}
    accepted = [first]
    c_fc = None
    for cand in cands[1:]:
        a, b = cand["a"], cand["b"]
        if a in occupied or b in occupied or (a + b) in occupied:
            c_fc = int(cand["cnt"])
            break
        accepted.append(cand)
        occupied.update((a, b, a + b))
    floor = 0 if len(cands) < window else int(cands[-1]["cnt"])
    if c_fc is None:
        c_fc = floor

    left_max: dict[str, int] = {}
    right_max: dict[str, int] = {}
    for c in cands:
        cnt = int(c["cnt"])
        if cnt > left_max.get(c["a"], 0):
            left_max[c["a"]] = cnt
        if cnt > right_max.get(c["b"], 0):
            right_max[c["b"]] = cnt

    kept = [first]
    r_max = max(left_max.get(first["b"], 0), floor)
    l_max = max(right_max.get(first["a"], 0), floor)
    for q in accepted[1:]:
        if len(kept) >= max_batch or int(q["cnt"]) <= c_fc + r_max + l_max:
            break
        kept.append(q)
        r_max = max(r_max, left_max.get(q["b"], 0), floor)
        l_max = max(l_max, right_max.get(q["a"], 0), floor)
    return [c for c in kept if int(c["cnt"]) >= 2]


def bpe_train(
    docs: DataFrame,
    n_merges: int = _BPE_MERGES,
    merges_per_round: int = 8,
) -> DataFrame:
    """Distributed byte-pair-encoding merge learning (Sennrich et al.
    2016, the GPT-2/RoBERTa tokenizer-training algorithm), Spark-shaped:

    1. one corpus pass builds the (word, count) histogram;
    2. each distinct word becomes ONE delimited string (``_bpe_render``:
       chars + ``</w>``, each token escaped and wrapped in the
       open/close delimiters — the committed DuckDB oracle's encoding);
    3. each round, adjacent-pair counts aggregate distributed
       (weighted by word count), a bounded candidate window — at most
       ``_BPE_CAND_WINDOW`` small rows — comes to the driver, a batch
       of up to ``merges_per_round`` provably-non-interacting merges
       is selected (see ``_bpe_select_batch`` for the exactness
       argument), and ONE rewrite pass applies them in rank order as a
       chain of native ``replace`` calls (``_bpe_apply`` — no Python
       boundary anywhere in the loop). The escape makes this total:
       any corpus, control characters included, takes the same path.

    ``localCheckpoint`` per round keeps the iterative lineage flat
    (same discipline as ``connected_components``). Ties break
    deterministically on (count desc, left, right), and the batched
    schedule is bit-identical to ``merges_per_round=1`` training —
    asserted against a sequential pure-Python reference in
    tests/test_semantics.py.

    Measured design notes (sf0.01 and a 10× replica, local[32]):
    exact batching rarely fires in early char-level rounds — natural-
    text top pairs genuinely interact (the argmax's symbols appear in
    the very next candidates), so the bound in ``_bpe_select_batch``
    correctly refuses them; the win appears only once merges decouple
    the symbol space. An incremental-delta variant (full pair table
    collected once, per-round (new−old) delta aggregated over touched
    rows only — the distributed analogue of the in-memory max-heap
    trainers) was implemented and measured SLOWER at both scales
    (9.3 s → 15.1 s at 10×): the distinct-word histogram is Heaps-law
    small, so the full re-aggregate is cheap, while the delta pass
    double-explodes the large early-round touched fraction and adds a
    checkpoint per round. The simple loop is the right shape here; at
    vocab sizes where rounds number in the tens of thousands, the
    per-round full aggregate over the (still Heaps-small) histogram
    remains the dominant-cost-correct choice.

    Returns the learned merge table: (merge_rank, left, right, merged,
    pair_count) — ``n_merges`` rows."""
    spark = docs.sparkSession
    hist = _bpe_word_histogram(docs)
    # Loop width is derived from the MEASURED pair volume of the
    # histogram itself, not the corpus scan width (r15 opt; r14 used
    # docs.rdd.getNumPartitions(), which under the bench's hot staged
    # layout degenerates to the full core count — 32 near-empty reduce
    # tasks per round for a 31-row histogram, measured 0.40 s/round vs
    # 0.20 s at the right width). The histogram is materialized ONCE
    # (eager checkpoint — this is the training loop's single corpus
    # pass either way) with an Observation riding the same job, so the
    # sizing costs ZERO extra jobs: width = ceil(adjacent-pair rows /
    # _BPE_PAIR_ROWS_PER_TASK), i.e. reduce partitions sized by data
    # volume (guide §2.2), floored at 1 and capped at the session's
    # configured shuffle width.
    from pyspark.sql import Observation

    obs = Observation()
    symr = (
        hist.observe(obs, F.coalesce(F.sum(F.length("word")), F.lit(0)).alias("n_pairs"))
        .select("weight", _bpe_render("word").alias("r"))
        .localCheckpoint(eager=True)
    )
    # the eager checkpoint above is the action that posts the metrics;
    # a refactor that drops or defers it fails loudly instead of hanging
    n_pairs = await_observation(obs, "bpe_train")["n_pairs"]
    # a word of n chars has n + 1 symbols, hence n adjacent pairs
    pair_rows = max(int(n_pairs), 1)
    session_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    width = max(1, -(-pair_rows // _BPE_PAIR_ROWS_PER_TASK))
    # ADVICE r14 #1: the explicit repartition-before-groupBy removes
    # map-side partial aggregation — fine while the whole pair stream
    # is a handful of tasks, a regression once it is not. When the
    # derived width reaches the session's shuffle width the data has
    # outgrown the narrow-loop shape: fall back to a plain groupBy and
    # let the planner do partial agg + exchange at the session width.
    narrow_loop = width < session_width
    if narrow_loop:
        symr = symr.coalesce(width)

    # The histogram lives across rounds in the delimited-string encoding
    # (r15 opt, guide §1.2 "per-task work" + driver latency): each
    # round's rewrite is a bare chain of native ``replace`` calls, which
    # cuts both the per-row executor work and — the measured bottleneck
    # at test scale — the driver-side py4j expression construction (a
    # handful of gateway calls per round).
    merges: list[tuple[int, str, str, str, int]] = []
    window = _BPE_CAND_WINDOW if merges_per_round > 1 else 1
    # candidates as ONE static SQL string over a loop-local temp view:
    # tokens never appear in the SQL text (no escaping hazard), and the
    # per-round driver cost is two gateway calls (replace view + parse)
    # instead of rebuilding the expression tree. The collected a/b are
    # still escaped — ``_bpe_select_batch`` compares them as they are
    # (the escape is injective and a homomorphism), and they are
    # unescaped only when a merge is recorded.
    view = f"bpe_sym_loop_{uuid.uuid4().hex}"
    # the REPARTITION hint rides the INNER block so the outer groupBy's
    # clustering requirement is satisfied by the hint's exchange
    # (hashpartitioning(a,b,width) satisfies ClusteredDistribution(a,b)
    # at any width) — one exchange at the derived width, exactly the
    # DataFrame repartition-then-groupBy idiom. At width == 1 the
    # coalesced single-partition input already satisfies ANY clustering
    # requirement, so the round plan runs with ZERO exchanges — no hint
    # at all (captured in plans/r15/llm_bpe_train_after.txt). On the
    # plain-groupBy branch the planner keeps partial agg + session-width
    # exchange (ADVICE r14 #1).
    hint = f"/*+ REPARTITION({width}, a, b) */ " if narrow_loop and width > 1 else ""
    cands_sql = f"""
        SELECT a, b, sum(weight) AS cnt FROM (
          SELECT {hint}weight, p.a AS a, p.b AS b FROM (
            SELECT weight,
                   explode(CASE WHEN size(t) >= 2
                           THEN transform(sequence(1, size(t) - 1),
                                i -> struct(element_at(t, i) AS a,
                                            element_at(t, i + 1) AS b))
                           ELSE CAST(array() AS array<struct<a:string,b:string>>)
                           END) AS p
            FROM (SELECT weight,
                         split(substring(r, 2, length(r) - 2),
                               concat(char({ord(_BPE_TOK_CLOSE)}),
                                      char({ord(_BPE_TOK_OPEN)}))) AS t
                  FROM {view})
          )
        ) GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT {int(window)}
    """
    try:
        while len(merges) < n_merges:
            symr.createOrReplaceTempView(view)
            cands = spark.sql(cands_sql).collect()
            if not cands or cands[0]["cnt"] < 2:
                break  # nothing left worth merging
            batch = _bpe_select_batch(
                cands, window, min(merges_per_round, n_merges - len(merges))
            )
            pairs = [(_bpe_unesc(c["a"]), _bpe_unesc(c["b"])) for c in batch]
            for (a, b), c in zip(pairs, batch):
                merges.append((len(merges), a, b, a + b, int(c["cnt"])))
            symr = symr.select(
                "weight", _bpe_apply(F.col("r"), pairs).alias("r")
            ).localCheckpoint(eager=False)
    finally:
        try:
            spark.catalog.dropTempView(view)
        except Exception:
            pass

    schema = T.StructType(
        [
            T.StructField("merge_rank", T.IntegerType()),
            T.StructField("left", T.StringType()),
            T.StructField("right", T.StringType()),
            T.StructField("merged", T.StringType()),
            T.StructField("pair_count", T.LongType()),
        ]
    )
    return spark.createDataFrame(merges, schema)


# --- full-oracle SQL for BPE (r14): the 8-round training loop UNROLLED ----
# The iterative argmax is not expressible as one SQL aggregate, but
# _BPE_MERGES is a fixed small constant, so the loop unrolls into 8
# chained CTE rounds. Two representation tricks make each round pure SQL:
#   1. a word's symbol sequence is one STRING with every token wrapped in
#      the _BPE_TOK_OPEN/_BPE_TOK_CLOSE control-char pair — unlike the Spark
#      trainer, the oracle does not escape token text, so it assumes both
#      code points absent from the corpus (a violation would surface as a
#      loud oracle mismatch, never a silent wrong answer);
#   2. BPE's leftmost-non-overlapping merge rewrite is then EXACTLY one
#      string REPLACE of open·a·close·open·b·close with open·ab·close:
#      REPLACE scans left to right and resumes AFTER each replacement, and
#      the paired delimiters share no characters between adjacent matches,
#      so [a,a,a,a] → [aa,aa] exactly like _bpe_merge_pair
#      (single-delimiter encodings get this wrong — the shared boundary
#      breaks the second match).
# Each round re-derives pair counts from the delimited strings (weighted
# by the word histogram, overlapping adjacencies — the Sennrich
# convention, same as bpe_train's candidates SQL), takes the
# (cnt DESC, a, b) argmax with the cnt>=2 stop rule, and rewrites. An
# empty winner (training stopped) keeps seqs unchanged via LEFT JOIN ON
# TRUE, so later rounds and the encode oracle read the settled state. The
# Spark trainer's multi-merge batching is bit-identical to
# 1-merge-per-round (proof in _bpe_select_batch; pytest-asserted vs a
# sequential reference), which is what licenses the strictly sequential
# SQL. Unicode: both engines split words per CODEPOINT (fixtures hold no
# non-BMP text, where JVM UTF-16 vs UTF-8 would diverge — probed before
# this flip).

_BPE_OPEN = f"chr({ord(_BPE_TOK_OPEN)})"
_BPE_CLOSE = f"chr({ord(_BPE_TOK_CLOSE)})"


def _bpe_cte_chain(n_merges: int = _BPE_MERGES) -> str:
    """The shared training CTE chain (words → seqs0 → (p/w/seqs){k});
    consumed by BOTH ``_bpe_train_oracle`` (appends the merge-table
    UNION) and ``_bpe_encode_oracle`` (appends the per-doc word join) —
    one rendering, no string-surgery coupling between the two."""
    o, c = _BPE_OPEN, _BPE_CLOSE
    parts = [f"""
WITH words AS (
  SELECT w AS word, COUNT(*)::BIGINT AS weight
  FROM (SELECT UNNEST(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM documents)
  WHERE w <> ''
  GROUP BY w
),
seqs0 AS (
  SELECT word, weight,
         list_aggregate(
           list_transform(
             list_append(string_split(word, ''), '{_BPE_EOW}'),
             t -> {o} || t || {c}),
           'string_agg', '') AS seq
  FROM words
)"""]
    for k in range(1, n_merges + 1):
        parts.append(f""",
p{k} AS (
  SELECT pr.a, pr.b, SUM(weight)::BIGINT AS cnt FROM (
    SELECT weight,
           UNNEST(list_transform(range(1, len(toks)),
                  i -> {{'a': substr(toks[i], 2), 'b': substr(toks[i+1], 2)}})) AS pr
    FROM (SELECT weight,
                 list_filter(string_split(seq, {c}), x -> x <> '') AS toks
          FROM seqs{k-1})
  ) GROUP BY pr.a, pr.b
),
w{k} AS (
  SELECT a, b, cnt FROM p{k} WHERE cnt >= 2
  ORDER BY cnt DESC, a, b LIMIT 1
),
seqs{k} AS (
  SELECT s.word, s.weight,
         CASE WHEN w.a IS NULL THEN s.seq
              ELSE replace(s.seq,
                           {o} || w.a || {c} || {o} || w.b || {c},
                           {o} || w.a || w.b || {c}) END AS seq
  FROM seqs{k-1} s LEFT JOIN w{k} w ON TRUE
)""")
    return "".join(parts)


def _bpe_train_oracle(n_merges: int = _BPE_MERGES) -> str:
    unions = "\nUNION ALL\n".join(
        f'SELECT {k - 1} AS merge_rank, a AS "left", b AS "right",'
        f" a || b AS merged, cnt AS pair_count FROM w{k}"
        for k in range(1, n_merges + 1)
    )
    return _bpe_cte_chain(n_merges) + "\n" + unions


def _bpe_encode_oracle(n_merges: int = _BPE_MERGES) -> str:
    """Encode oracle = the shared training CTE chain + a per-doc word
    join: after round {n}, seqs{n} holds the FULLY merged representation
    of every distinct word, so a doc's BPE token count is the sum of its
    words' final symbol counts. Empty-text docs keep (0, 0) via the
    LEFT JOIN from documents."""
    c = _BPE_CLOSE
    return _bpe_cte_chain(n_merges) + f""",
enc AS (
  SELECT word,
         len(list_filter(string_split(seq, {c}), x -> x <> ''))::BIGINT AS n_tok
  FROM seqs{n_merges}
),
docw AS (
  SELECT doc_id, w AS word
  FROM (SELECT doc_id, UNNEST(regexp_split_to_array(lower(text), '\\s+')) AS w
        FROM documents)
  WHERE w <> ''
)
SELECT doc.doc_id,
       COALESCE(agg.n_words, 0)::BIGINT AS n_words,
       COALESCE(agg.n_bpe_tokens, 0)::BIGINT AS n_bpe_tokens
FROM documents doc
LEFT JOIN (
  SELECT d.doc_id, COUNT(*)::BIGINT AS n_words,
         SUM(e.n_tok)::BIGINT AS n_bpe_tokens
  FROM docw d JOIN enc e ON e.word = d.word
  GROUP BY d.doc_id
) agg ON agg.doc_id = doc.doc_id
"""


@register("llm_bpe_train", oracle=_bpe_train_oracle(), section="L4", bench=True, reverify=14)
def llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: train a BPE tokenizer on the corpus. FULL ORACLE (r14 —
    moved off the rows-only list): _BPE_MERGES is a fixed small
    constant, so DuckDB re-derives the whole training loop as 8
    unrolled CTE rounds (see _bpe_train_oracle for the delimited-string
    REPLACE equivalence proof). Exact merge-table equality against a
    pure-Python sequential reference is additionally pytest-asserted
    (tests/test_semantics.py).

    Planned through the no-AQE clone (r14 opt, the pagerank idiom):
    the loop is 8+ driver-synchronous rounds of a Heaps-small
    aggregate, where AQE's per-exchange stage jobs and re-planning are
    pure overhead — nothing in a vocab-bounded pair table ever needs
    runtime re-optimization. Measured at sf0.1: ~3.1 → ~2.5 s
    (together with the width derivation in ``bpe_train``); results
    bit-identical."""
    from ...plans.analytics import _noaqe_session

    s = _noaqe_session(spark)
    docs = load_table(s, sf_dir, "documents")
    return bpe_train(docs)


def bpe_encode_counts(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a learned merge list to the corpus and report per-document
    BPE token counts: (doc_id, n_words, n_bpe_tokens). Each document is
    rendered and rewritten exactly as ``bpe_train`` rewrites a word
    (``_bpe_render`` then ``_bpe_apply``, merges in rank order — the
    standard greedy BPE encoder; the render keeps words apart), and its
    token count is the number of open delimiters left. Words are the
    trainer's (Java ``\\s``, the DuckDB oracle's RE2 ``\\s``); NULL text
    has no words and reports (0, 0), like the oracle's LEFT JOIN
    zero-fill.

    Scale shape: one narrow projection of native string ops per
    document — no Python worker, no shuffle; per-doc outputs land where
    the docs already are."""
    text = F.lower(F.coalesce("text", F.lit("")))
    r = _bpe_apply(_bpe_render(text), merges)
    n_tokens = F.length(r) - F.length(F.replace(r, F.lit(_BPE_TOK_OPEN), F.lit("")))
    return docs.select(
        "doc_id",
        F.regexp_count(text, F.lit(r"\S+")).cast("long").alias("n_words"),
        n_tokens.cast("long").alias("n_bpe_tokens"),
    )


def _bpe_merges_for(docs: DataFrame, sf_dir: str) -> list[tuple[str, str]]:
    """The corpus-trained merge list, memoized per session on the
    documents table's content digest: encoding repeatedly in one
    session trains once, and a corpus rewritten in place retrains."""
    from ...sources.io import content_digest, memo, table_path

    def train() -> list[tuple[str, str]]:
        rows = bpe_train(docs).orderBy("merge_rank").collect()
        return [(r["left"], r["right"]) for r in rows]

    key = (content_digest([table_path(sf_dir, "documents")]), _BPE_MERGES)
    return memo(docs.sparkSession, "bpe_merges", key, train)


@register("llm_bpe_encode", oracle=_bpe_encode_oracle(), section="L4", reverify=14)
def llm_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: encode the corpus with the corpus-trained BPE merges and
    report per-doc token counts — the number that actually prices a
    training run. FULL ORACLE (r14): the encode oracle reuses the
    unrolled training chain's final word representations (see
    _bpe_encode_oracle), so DuckDB independently re-derives merges AND
    the per-doc counts. The encoder kernel is also pytest-asserted
    equal to a pure-Python reference, and every count is bounded by
    chars+1 per word (sanity invariant also pytest-checked)."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_counts(docs, _bpe_merges_for(docs, sf_dir))


# =============================================================================
# L4/L5 main-content extraction (HTML boilerplate removal)
# =============================================================================

_HTML_EXTRACT_ORACLE = """
WITH h AS (
  SELECT doc_id, COALESCE(text, '') AS txt,
         md5(COALESCE(text, '')) AS hx
  FROM documents
), p AS (
  SELECT doc_id,
    '<html><body><p>'
    || list_aggregate(
         list_transform(
           generate_series(1, 2 + ((strpos('0123456789abcdef', substr(hx, 7, 1)) - 1) * 16
                                   + (strpos('0123456789abcdef', substr(hx, 8, 1)) - 1)) % 4),
           i -> '<a href="u' || i || '">nav' || i || '</a>'),
         'string_agg', '')
    || '</p><p>' || txt
    || '</p><p>See <a href="m">more</a> on ' || substr(txt, 1, 40)
    || '</p><p><a href="c">(c) corp</a> <a href="t">terms</a></p></body></html>'
      AS html
  FROM h
), b AS (
  SELECT doc_id, regexp_extract_all(html, '(?i)<p[^>]*>(.*?)</p>', 1) AS blocks FROM p
), k AS (
  SELECT doc_id, blocks,
    list_transform(
      list_filter(blocks, bl ->
        2 * COALESCE(list_sum(list_transform(
              regexp_extract_all(bl, '(?i)<a[^>]*>([^<]*)</a>', 1), x -> length(x))), 0)
          < length(regexp_replace(bl, '<[^>]*>', '', 'g'))),
      bl -> regexp_replace(bl, '<[^>]*>', '', 'g')) AS kept
  FROM b
)
SELECT doc_id,
       CAST(len(blocks) AS BIGINT) AS n_blocks,
       CAST(len(kept) AS BIGINT) AS n_kept,
       CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS main_len,
       substr(array_to_string(kept, chr(10)), 1, 60) AS main_prefix
FROM k
"""


def html_extract_expr(html) -> F.Column:
    """Main-content extraction as ONE reusable JVM expression over any
    HTML string column: returns struct(n_blocks, n_kept, main_len,
    main_prefix). Case-insensitive, attribute-tolerant block
    segmentation (``(?i)<p[^>]*>``), per-block link density, density
    >= 0.5 dropped, survivors tag-stripped and joined. The block and
    kept arrays are bound as lambda variables (the shingle_str_expr
    lesson — Catalyst inlines plain column references into every use
    site, re-running the regex per output column), so each regex pass
    evaluates exactly once per row."""

    def strip_tags(b):
        return F.regexp_replace(b, F.lit("<[^>]*>"), F.lit(""))

    def link_chars(b):
        return F.aggregate(
            F.regexp_extract_all(b, F.lit("(?i)<a[^>]*>([^<]*)</a>"), F.lit(1)),
            F.lit(0),
            lambda a, x: a + F.length(x),
        )

    blocks = F.regexp_extract_all(html, F.lit("(?i)<p[^>]*>(.*?)</p>"), F.lit(1))
    return F.element_at(
        F.transform(
            F.array(blocks),
            lambda bl: F.element_at(
                F.transform(
                    F.array(
                        F.transform(
                            F.filter(
                                bl,
                                lambda b: (link_chars(b) * 2)
                                < F.length(strip_tags(b)),
                            ),
                            strip_tags,
                        )
                    ),
                    lambda kept: F.element_at(
                        F.transform(
                            F.array(F.array_join(kept, "\n")),
                            lambda mt: F.struct(
                                F.size(bl).cast("bigint").alias("n_blocks"),
                                F.size(kept).cast("bigint").alias("n_kept"),
                                F.length(mt).cast("bigint").alias("main_len"),
                                F.substring(mt, 1, 60).alias("main_prefix"),
                            ),
                        ),
                        1,
                    ),
                ),
                1,
            ),
        ),
        1,
    )


@register("llm_html_extract", oracle=_HTML_EXTRACT_ORACLE, section="L4,L5")
def llm_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4/L5 main-content extraction (HTML boilerplate removal) — the
    crawl-curation step between "fetched page" and every text filter in
    this family: segment a page into blocks, score each block's LINK
    DENSITY (anchor-text chars / tag-stripped text chars — the core
    readability/jusText/trafilatura signal, all public heuristics),
    drop nav/footer blocks at density >= 0.5, and emit the surviving
    text. The page corpus is synthesized deterministically from the
    documents fixture (seeded nav-link count from md5 byte 3, content
    block, a mixed editorial block, a link-only footer) so the DuckDB
    oracle re-derives both the synthesis AND the extraction
    independently; one regex, density, or ordering divergence anywhere
    fails the value hash.

    Scale shape: pure per-row JVM expressions (concat / sequence /
    regexp_extract_all / higher-order filter-transform-aggregate) —
    zero Python crossings, zero shuffles, embarrassingly parallel over
    any partitioning at 100 TB. The extraction itself is the reusable
    :func:`html_extract_expr` (also exercised on hand-written foreign
    markup with attributes and mixed-case tags in pytest); this query
    binds it to the deterministically synthesized page corpus."""
    docs = load_table(spark, sf_dir, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    hx = F.md5(txt)
    n_nav = (F.conv(F.substring(hx, 7, 2), 16, 10).cast("int") % 4) + 2
    nav = F.aggregate(
        F.sequence(F.lit(1), n_nav),
        F.lit(""),
        lambda acc, i: F.concat(
            acc, F.lit('<a href="u'), i.cast("string"),
            F.lit('">nav'), i.cast("string"), F.lit("</a>"),
        ),
    )
    html = F.concat(
        F.lit("<html><body><p>"), nav,
        F.lit("</p><p>"), txt,
        F.lit('</p><p>See <a href="m">more</a> on '), F.substring(txt, 1, 40),
        F.lit('</p><p><a href="c">(c) corp</a> <a href="t">terms</a></p></body></html>'),
    )
    return docs.select("doc_id", html_extract_expr(html).alias("r")).select(
        "doc_id", "r.*"
    )
