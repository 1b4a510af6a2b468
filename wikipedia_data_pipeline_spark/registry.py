"""Query registry: every implemented operator as a (Spark callable,
DuckDB oracle SQL) pair, keyed by name — the source of truth behind
``__spark_entry__.queries()`` / ``oracle_sql()``.

Conventions (driver compare is row-count + schema + order-insensitive
value hash):
  * every computed column is aliased identically in Spark and SQL;
  * counts/ranks are BIGINT on both sides (Spark row_number is INT —
    cast it);
  * double aggregates that are sensitive to summation order are summed
    as DECIMAL and cast back to DOUBLE, so both engines produce
    bit-identical values regardless of parallel reduction order;
  * top-k queries carry a total (deterministic) sort order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, Query] = {}
_ORACLES: dict[str, str] = {}
_EAGER: set[str] = set()


def register(
    name: str, oracle: str | None = None, eager: bool = False
) -> Callable[[Query], Query]:
    """``eager=True`` marks a query whose CONSTRUCTION already runs
    Spark jobs (iterative fixpoints that must materialize per round,
    demo round-trips that write artifacts). Correctness gates treat
    them like any other query; bench/tooling must exclude them
    mechanically via ``eager_queries()`` — timing an eager query's
    final action measures only the tail of its work."""

    def deco(fn: Query) -> Query:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        if eager:
            _EAGER.add(name)
        return fn

    return deco


# The driver's correctness gate walks a bounded prefix (~50 entries) of
# queries(). Those slots are only useful for oracle-checkable queries, so
# the exported order is: (1) a PINNED set that keeps driver evidence
# every round; (2) a per-round ROTATION that cycles the remaining slots
# through the least-recently-driver-verified oracle families, so
# independent verification sweeps the whole registry over rounds instead
# of re-checking the same prefix; (3) every other oracle-bearing query
# in registration order; (4) the no-oracle approximate/streaming-only
# entries (rows-only checks) at the very end.
#
# ROUND 13: the r12 verdict's #2 directive is to spend the whole window
# on the 155 oracle-bearing keys that have never appeared in a driver
# window (277/432 ever-green; backlog grew while the registry did).
# The pinned set is therefore cut to the two flagship reference-surface
# keys for this round — the usual pinned members (event-time family,
# TF-IDF stages) all have multi-round driver evidence (r1–r12 green)
# and rotate back in once the backlog drains.
_PINNED = [
    "tfidf_full",
    "task1_dictionary",
]

# Round-14 rotation: 48 slots. This optimization round REWROTE five
# query implementations (text_span_dedup_stats, coreset facility
# location, recs_catalog_coverage, sketch_quantile_summary_events,
# dedup_doc_continuation — each oracle-equal by the full local gate),
# so those keys lead the window: the driver's own CORRECTNESS_r14
# independently re-verifies every rewrite. Next come the
# measured-this-round keys that have NEVER been driver-verified
# (ml_eval_wer, the two basket queries, the bucketed rolling-actives
# twin), then the oldest cohorts of the 108-key never-driver-verified
# backlog in age order (sampling/curation audits, early corpus-profile
# text block, sketch/value-histogram tail). 65 backlog keys remain for
# the r15 rotation. The r13 rotation went driver-green in
# CORRECTNESS_r13 (50/50, 48 first-time) and rotates out with that
# evidence. Driver-ever before this round: 331/433 oracle keys.
_ROTATION = [
    # this round's rewrites (driver re-verification of changed code)
    "text_span_dedup_stats",
    "curation_coreset_facility_location",
    "recs_catalog_coverage",
    "sketch_quantile_summary_events",
    "dedup_doc_continuation",
    # measured this round, never driver-verified
    "ml_eval_wer",
    "market_basket_pairs",
    "recs_item_item_cosine",
    "events_rolling_active_users_bucketed",
    # oldest never-verified sampling / curation / profiling cohort
    "dedup_lsh_recall_planner",
    "sample_class_balanced_docs",
    "sample_mixture_temperature",
    "sample_split_ks_uniformity",
    "sample_group_kfold_audit",
    "profile_documents",
    "sample_shuffle_order",
    "text_quality_percentile_gate",
    "curation_source_cap",
    "source_wikidoc_roundtrip",
    "sample_token_budget_cut",
    "curation_funnel_report",
    "sample_token_mask",
    "sample_contrastive_negatives",
    "data_quality_report",
    "dedup_cluster_size_histogram",
    "dedup_fuzzy_levenshtein",
    "text_naive_bayes_langid",
    "ml_eval_regression_panel",
    "stats_pacf_durbin_levinson",
    "events_conditional_entropy",
    # early corpus-profile text block
    "corpus_snapshot_diff",
    "text_bigram_surprisal",
    "corpus_drift_tokens",
    "documents_vocab_overlap_langs",
    "text_js_divergence_sources",
    "text_word_burstiness",
    "text_phrase_search",
    "doc_similarity_tfidf",
    "text_good_turing_mass",
    "text_log_odds_sources",
    "text_hellinger_sources",
    "text_sttr_segments",
    "text_burrows_delta",
    "text_rake_keywords",
    # sketch / value-histogram tail
    "bloom_prefilter_join_revenue",
    "incremental_distinct_users",
    "sketch_count_min_words",
    "histogram_event_values",
]


def _ordered_names() -> list[str]:
    head = [n for n in _PINNED + _ROTATION if n in _QUERIES]
    seen = set(head)
    rest = [n for n in _QUERIES if n in _ORACLES and n not in seen]
    no_oracle = [n for n in _QUERIES if n not in _ORACLES and n not in seen]
    return head + rest + no_oracle


def spark_queries() -> dict[str, Query]:
    _load_all()
    return {n: _QUERIES[n] for n in _ordered_names()}


def oracle_queries() -> dict[str, str]:
    _load_all()
    return {n: _ORACLES[n] for n in _ordered_names() if n in _ORACLES}


def eager_queries() -> set[str]:
    """Names whose query functions execute Spark jobs at build time —
    exclude from any timing set (see ``register(eager=...)``)."""
    _load_all()
    return set(_EAGER)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    _load_all()
    return _QUERIES["tfidf_full"](spark, sf_dir)


_LOADED = False


def _load_all() -> None:
    """Import all query-definition modules (idempotent).

    Import order IS registration order IS the order the driver's
    correctness gate walks ``queries()`` (it checks a bounded prefix of
    ~50 registrations).  The reference surface (TF-IDF / Task 1,
    SURVEY.md §2.1–2.5) and the LLM-pipeline extensions (text, dedup,
    similarity, multimodal/UDF, streaming) therefore register FIRST;
    the commodity relational/advanced suites — all driver-verified
    green in round 1 — fill the tail.
    """
    global _LOADED
    if _LOADED:
        return
    from wikipedia_data_pipeline_spark.queries import (  # noqa: F401
        tfidf_queries,
        text_queries,
        dedup_queries,
        similarity_queries,
        multimodal_queries,
        sampling_queries,
        streaming_queries,
        relational_queries,
        advanced_queries,
        tpch_queries,
        analytics_queries,
        profiling_queries,
        opsevents_queries,
        timeseries_queries,
        sequence_queries,
        textcorpus_queries,
        textsearch_queries,
        textprofile_queries,
        sketch_queries,
        stats_queries,
        statstests_queries,
        statscontrast_queries,
        statsdrift_queries,
        statsrank_queries,
        statsnonparam_queries,
        statsseries_queries,
        statsparam_queries,
        mleval_queries,
        features_queries,
        embedding_queries,
        mleval_paired_queries,
        mleval_reliability_queries,
        generation_queries,
        finance_queries,
        graph_queries,
        privacy_queries,
        spatial_queries,
    )

    _LOADED = True
