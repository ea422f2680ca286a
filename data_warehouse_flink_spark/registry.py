"""Query registry: every engine capability as a named, oracle-checked query.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with an
equivalent ANSI-SQL string DuckDB can run over the same parquet tables.
``__spark_entry__.py`` exposes the registry to the driver; the local test
harness (tests/test_oracle_parity.py) replicates the driver's compare so
regressions surface before a round ends.

Determinism conventions (so value-hashes match across engines):
- window bounds and timestamps are emitted as epoch BIGINTs, never raw
  timestamps (`unix_timestamp` / `unix_micros` on the Spark side,
  `epoch`/`epoch_us` casts on the DuckDB side);
- sums/avgs over doubles go through DECIMAL casts (exact, order-independent)
  and are ROUNDED IN THE DECIMAL DOMAIN (HALF_UP, identical across engines)
  before the final DOUBLE cast — rounding the converted double instead
  diverges at .5 boundaries, and the conversion itself double-rounds when
  the scaled mantissa exceeds 2^53;
- every top-N ordering carries a unique tie-breaker key;
- aggregate/computed columns are aliased identically in both dialects.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: SparkQuery
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only
    doc: str


_REGISTRY: dict[str, Query] = {}

# Modules whose import registers queries.
_QUERY_MODULES = (
    "data_warehouse_flink_spark.plans.reference_jobs",
    "data_warehouse_flink_spark.plans.tpch",
    "data_warehouse_flink_spark.plans.llm_ops",
    "data_warehouse_flink_spark.plans.analytics",
    "data_warehouse_flink_spark.plans.sql_frontend",
)


def register(name: str, oracle: str | None = None):
    """Decorator: register a Spark query, optionally with its DuckDB oracle."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name, fn, oracle, fn.__doc__ or "")
        return fn

    return deco


def load_all() -> None:
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)


# The driver grades a fixed-size prefix of the registry (50 entries in every
# round so far, in ``queries()`` iteration order), so iteration order decides
# which queries get oracle evidence each round. Priority for round 14
# (VERDICT r13 directive #1 — exactly the rotation pre-announced here in
# round 13):
# (1) the 22 SURVEY §2 gate queries — stay in every round's prefix;
# (2) first-evidence entries FIRST (the documented rule since r8):
#     none this round — the registry stays frozen at 176 (VERDICT r13 #6)
#     and round 14 adds no registered queries.
# (3) periodic-reconfirmation cadence (rule since r7: after first-evidence
#     entries, fill the prefix with the queries holding the OLDEST driver
#     hash evidence, ties broken by registration order, so no query's
#     evidence age is unbounded; oracle-less entries are SKIPPED per the
#     r12 amendment — ``all_queries()`` enforces this structurally by
#     sorting oracle-less entries last and refusing an oracle-less name in
#     _GRADING_PRIORITY outright). This round: the full r8-evidence
#     remainder of 12, then the first 16 of the r9 cohort of 28 in
#     registration order — exactly the plan VERDICT r13 #1 names.
# 22 + 0 + 12 + 16 = 50 exactly, all oracle-bearing. After this round's
# grading no oracle-bearing query's evidence is older than r9. Next up
# (round 15): the r9 remainder of 12 in registration order (knn_rrf,
# embedding_kmeans_train, embedding_kmeans_assign, knn_ivf_trained,
# knn_ivf_trained_sampled, doc_minhash_incremental, embedding_pq_train,
# knn_pq_trained, knn_pq_trained_sampled, corpus_bpe_train,
# error_rate_spikes, purchase_asof_click), then the first 16 of the r10
# cohort of 28 in registration order (doc_span_dedup,
# doc_quality_classifier, token_count_min_sketch, doc_hash_embedding,
# doc_text_knn, corpus_curation_v2, doc_dedup_sweep, doc_url_dedup,
# doc_weighted_sample, doc_perplexity_bucket, knn_ivf_pq,
# doc_exact_substring_dedup, doc_tokenizer_fertility,
# corpus_token_budget_plan, doc_lsh_recall_report,
# corpus_bpe_train_batched).
_GRADING_PRIORITY = (
    # -- §2 gates (reference_jobs registration order) --
    "page_view",
    "hot_items_topn",
    "network_flow_topn",
    "unique_visitors",
    "uv_approx",
    "app_marketing_by_channel",
    "app_marketing_total",
    "ad_clicks_by_geo",
    "ad_blacklist_warnings",
    "login_fail_consecutive",
    "login_fail_threshold",
    "order_timeout",
    "tx_match",
    "tx_match_window_join",
    "tx_match_interval_join",
    "streaming_page_view",
    "user_sessions",
    "streaming_unique_visitors",
    "ad_clicks_by_geo_fine",
    "streaming_tx_match_window_join",
    "streaming_hot_items_topn",
    "streaming_update_emissions",
    # -- oldest-evidence reconfirmation: the r8 remainder of 12, then the
    # first 16 of the r9 cohort (evidence CORRECTNESS_r08/r09;
    # registration order; oracle-less entries skipped per the r12 cadence
    # amendment — none occur in these cohorts anyway) --
    "events_rollup",  # r8
    "events_cube",  # r8
    "event_value_percentiles",  # r8
    "viewers_never_purchased",  # r8
    "user_running_value",  # r8
    "windowed_value_sum",  # r8
    "pattern_error_next_error",  # r8
    "pattern_click_followed_by_purchase",  # r8
    "user_value_outliers",  # r8
    "conversion_funnel",  # r8
    "hourly_counts_gapfilled",  # r8
    "weekly_cohort_retention",  # r8
    "streaming_user_sessions",  # r9
    "doc_minhash_lsh",  # r9
    "doc_simhash",  # r9
    "knn_lsh",  # r9
    "streaming_knn",  # r9
    "multimodal_features",  # r9
    "multimodal_frames",  # r9
    "doc_rolling_fingerprint",  # r9
    "knn_ivf",  # r9
    "streaming_near_dedup",  # r9
    "doc_dedup_keep_best",  # r9
    "doc_semantic_dedup_scores",  # r9
    "knn_pq",  # r9
    "doc_importance_weights",  # r9
    "doc_bpe_encode",  # r9
    "embedding_sq8",  # r9
)
# Rotated OUT of the prefix this round: the r7 remainder of 12 and the r8
# cohort head of 16 (all regraded r13). Evidence ages after this round's
# grading: r9 remainder (12), then r10 (28) / r11 (26) / r12 (28) / r13
# (28 non-gate entries regraded r13; the 22 gates regrade every round).
# The local parity suite still re-verifies every registered oracle each
# session; the driver prefix is the independent re-proof channel.


def all_queries() -> dict[str, Query]:
    load_all()
    rank = {name: i for i, name in enumerate(_GRADING_PRIORITY)}
    bad = [n for n in _GRADING_PRIORITY if _REGISTRY[n].oracle is None]
    if bad:  # r12 cadence amendment: a prefix slot must never read no_oracle
        raise ValueError(f"oracle-less queries in _GRADING_PRIORITY: {bad}")
    default = len(_GRADING_PRIORITY)
    # Sort: graded prefix first (priority order), then oracle-bearing
    # entries in registration order, then oracle-less entries LAST — so the
    # driver's fixed-size graded prefix can structurally never land on a
    # rows-only entry, whatever the prefix size or registration order.
    ordered = sorted(
        enumerate(_REGISTRY.items()),
        key=lambda pair: (
            rank.get(pair[1][0], default),
            pair[1][1].oracle is None,
            pair[0],
        ),
    )
    return {name: q for _, (name, q) in ordered}


def spark_queries() -> dict[str, SparkQuery]:
    return {name: q.spark_fn for name, q in all_queries().items()}


def oracles() -> dict[str, str]:
    return {
        name: q.oracle for name, q in all_queries().items() if q.oracle is not None
    }
