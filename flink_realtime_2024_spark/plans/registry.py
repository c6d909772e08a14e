"""Query registry — the single source of truth for the driver contract.

Every implemented operator from SURVEY.md §2 registers one named query:
a builder ``(spark, sf_dir) -> DataFrame`` plus (unless genuinely not
SQL-expressible) a DuckDB oracle SQL string over the same parquet views.
``__spark_entry__.py`` is a thin shim over this registry.

Conventions that keep the driver's order-insensitive value-hash stable
across engines (SURVEY §5.2 gotchas):
- alias every computed column identically in builder and oracle;
- money/sum aggregates computed in DECIMAL (exact, order-independent),
  cast to DOUBLE at the end — both engines then emit bit-identical f64;
- timestamps leave the result as epoch-ms BIGINT or formatted strings;
- arrays/maps leave the result as strings (array_join) or scalars.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL; None → driver does a rows-only check
    section: str  # SURVEY.md §2 row id(s), e.g. "J4"
    doc: str = ""
    bench: bool = False  # include in bench.py headline set
    reverify: int = 0  # round at which the verification contract changed
    # (e.g. a new oracle replaced a rows-only check) — the id jumps the
    # rotation queue right after failing ids until the driver re-records
    # it AT OR AFTER that round (last_seen >= reverify drops it out of
    # the bucket automatically; no manual flag removal needed)


_REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    section: str = "",
    bench: bool = False,
    reverify: int = 0,
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query id: {name}")
        _REGISTRY[name] = Query(
            name=name,
            builder=fn,
            oracle=oracle.strip() if oracle else None,
            section=section,
            doc=(fn.__doc__ or "").strip(),
            bench=bench,
            reverify=reverify,
        )
        return fn

    return deco


# The verification driver samples the FIRST 50 ids of the order that
# ``__spark_entry__.queries()`` exposes (CORRECTNESS_r01-r03 are each
# exactly-50 prefixes). ``driver_order()`` rotates that prefix so every
# family accumulates driver-checked evidence across rounds, while
# ``all_queries()`` stays in plain registration order for every other
# consumer (bench, tests, docs).
#
# ROUND-4 PREFIX (recomputed per the r3 plan): flagship + the 44 ids
# never present in CORRECTNESS_r01 ∪ _r02 ∪ _r03 (all remaining sql_*
# TPC-H shapes, 24 llm_* ids, CEP twins, mm_resize_stats, and the
# stream smoke/split/admit trio) + 5 spot re-confirmations guarding the
# r2 lesson (Spark minor upgrades change scan dtypes): json_extract,
# join_interval, window_session, state_first_visit, scalar_datetime.
# Exactly 50 ids — covers every id registered through round 3
# (149/149 cumulative after r4).
#
# FROM ROUND 5 ON the prefix is SELF-COMPUTING: once CORRECTNESS_r04
# exists, ``driver_order()`` derives the rotation from the committed
# CORRECTNESS_r*.json recordings themselves — flagship, then every id
# with no recording at all (registration order), then already-checked
# ids stalest-first. No more manual prefix recomputes; the static list
# below remains only as the round-4 prefix and the fallback when the
# recordings can't be read.
DRIVER_PRIORITY: list[str] = [
    "flagship_revenue_by_nation",
    # never driver-checked: SQL API TPC-H shapes
    "sql_exists_subquery",
    "sql_in_subquery_having",
    "sql_correlated_scalar",
    "sql_not_in_subquery",
    "sql_antijoin_avg_subquery",
    "sql_lateral_topn",
    "sql_bilateral_volume",
    "sql_product_profit",
    "sql_disjunctive_filter",
    "sql_waiting_supplier",
    "sql_shipping_priority",
    "sql_customer_distribution",
    "sql_small_qty_revenue",
    # never driver-checked: LLM-pipeline text/dedup family
    "llm_winnow_fingerprint",
    "llm_corpus_pipeline",
    "llm_corpus_stats",
    "llm_quality_gopher",
    "llm_repetition_stats",
    "llm_lang_id",
    "llm_decontaminate",
    "llm_decontaminate_bloom",
    "llm_chunk_documents",
    "llm_sample_stratified",
    "llm_pii_redact",
    "llm_heavy_hitters",
    "llm_perplexity_proxy",
    "llm_domain_stats",
    "llm_train_val_split",
    "llm_pack_sequences",
    "llm_segment_dedup",
    # never driver-checked: LLM-pipeline embedding/ANN family
    "llm_knn_ivf_partitioned",
    "llm_knn_pq",
    "llm_knn_int8",
    "llm_embedding_norms",
    "llm_cosine_pairs",
    "llm_kmeans_clusters",
    "llm_semantic_dedup",
    "analytics_basket_affinity",
    # never driver-checked: multimodal + streaming + CEP
    "mm_resize_stats",
    "stream_source_smoke",
    "stream_split",
    "stream_neardup_admit",
    "analytics_cep_funnel",
    "stream_cep_funnel",
    # spot re-confirmations (r2-red lineage / dtype-sensitive)
    "json_extract",
    "join_interval",
    "window_session",
    "state_first_visit",
    "scalar_datetime",
]


def all_queries() -> dict[str, Query]:
    """All registered queries in plain registration order."""
    return dict(_REGISTRY)


def _auto_rotation(
    corrections_dir: str | None = None,
    exclude_round: int | None = None,
) -> list[str] | None:
    """Compute the sampling prefix from the committed CORRECTNESS_r*.json
    recordings: flagship first, then ids whose LATEST recording shows a
    failure (they must re-prove a fix immediately — the 'last round's
    reds go first' rule), then ids with NO recording (registration
    order), then passing recorded ids stalest-first (oldest last-seen
    round). ``err == "no_oracle"`` is the driver's marker for a
    rows-only check, not a failure. Returns None — caller falls back to
    DRIVER_PRIORITY — until a round-4 recording exists (the round-4
    prefix was hand-verified before commit and must stay byte-stable)
    or if the files are unreadable.

    ``exclude_round`` replays the rotation AS IT WAS before that
    round's recording landed — the CI prefix guard uses this to verify
    that a committed DRIVER_SIM_r{N}.log matches the rotation that
    generated it even after the driver drops CORRECTNESS_r{N}.json
    into the judged tree (a pure-registry computation, no Spark)."""
    import glob
    import json
    import os
    import re

    root = corrections_dir or os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    last_seen: dict[str, int] = {}
    last_failed: dict[str, bool] = {}
    max_round = 0
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        if exclude_round is not None and rnd == exclude_round:
            continue
        try:
            with open(path) as f:
                data = json.load(f)
            if not isinstance(data, dict):
                raise ValueError("recording is not a JSON object")
        except Exception:
            # a corrupt/unreadable recording (possibly the LATEST round)
            # must not silently skew the rotation toward stale rounds —
            # fall all the way back to DRIVER_PRIORITY, as documented
            return None
        max_round = max(max_round, rnd)
        for name, rec in data.items():
            if rnd >= last_seen.get(name, 0):
                failed = False
                if isinstance(rec, dict):
                    err = rec.get("err")
                    failed = (err is not None and err != "no_oracle") or any(
                        rec.get(k) is False
                        for k in ("rows_match", "schema_match", "hash_match")
                    )
                last_failed[name] = failed
            last_seen[name] = max(rnd, last_seen.get(name, 0))
    if max_round < 4:
        return None
    names = list(_REGISTRY)
    flagship = "flagship_revenue_by_nation"
    red = [
        n for n in names
        if n != flagship and last_failed.get(n, False)
    ]
    # ids whose verification contract changed since their last recording
    # (rows-only -> full oracle): must re-prove under the new contract.
    # Once the driver re-records AT OR AFTER the flag's round
    # (last_seen >= reverify) the id falls back into the stale pool —
    # otherwise a permanently-flagged id would jump the queue forever
    # and starve genuinely stale ids.
    reverify = [
        n for n, q in _REGISTRY.items()
        if q.reverify
        and n in last_seen
        and last_seen[n] < q.reverify
        and n != flagship
        and n not in red
    ]
    never = [n for n in names if n not in last_seen and n != flagship]
    stale = sorted(
        (
            n for n in names
            if n in last_seen and n != flagship and n not in red and n not in reverify
        ),
        key=lambda n: (last_seen[n], names.index(n)),
    )
    return [flagship] + red + reverify + never + stale


def _rotation_names(
    corrections_dir: str | None = None,
    exclude_round: int | None = None,
) -> list[str]:
    """THE sampling order, as a name list: rotation priority first
    (filtered to registered ids), then the rest in registration order.
    Single implementation shared by ``driver_order`` (what the driver
    samples) and ``rotation_prefix`` (what the CI guard verifies) — a
    divergence between the two would make the guard unsound."""
    priority = (
        _auto_rotation(corrections_dir, exclude_round=exclude_round)
        or DRIVER_PRIORITY
    )
    ordered = [name for name in priority if name in _REGISTRY]
    seen = set(ordered)
    for name in _REGISTRY:
        if name not in seen:
            ordered.append(name)
    return ordered


def driver_order() -> dict[str, Query]:
    """Registry reordered for the verification driver's 50-id sample.

    From round 5 on the order is computed from the CORRECTNESS_r*.json
    recordings (see ``_auto_rotation``); before that — or if the
    recordings are unreadable — ids in ``DRIVER_PRIORITY`` come first,
    then the rest in registration order. Only ``__spark_entry__``
    should use this; everything else wants ``all_queries()``.
    """
    return {name: _REGISTRY[name] for name in _rotation_names()}


def rotation_prefix(
    n: int = 50,
    corrections_dir: str | None = None,
    exclude_round: int | None = None,
) -> list[str]:
    """First ``n`` ids of the driver sampling order — the exact prefix
    CORRECTNESS_r{next} will contain. Pure registry + JSON computation
    (no Spark). ``exclude_round`` replays the rotation as it stood
    before that round's recording landed (see ``_auto_rotation``)."""
    return _rotation_names(corrections_dir, exclude_round=exclude_round)[:n]


def get(name: str) -> Query:
    return _REGISTRY[name]
