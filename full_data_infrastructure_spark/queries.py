"""Named query surface — the engine's public, oracle-checked API.

Every operator family from SURVEY.md §2 (plus the LLM-data extensions) is
exposed here as a named query: a builder ``(spark, sf_dir) -> DataFrame`` and,
where SQL-expressible, an equivalent ANSI-SQL oracle that DuckDB runs on the
same parquet tables. The driver hash-compares the two at sf0.01
(row count + column names + order-insensitive value hash), so:

* every computed column is **aliased identically** on both sides;
* every float column is **bit-identical** cross-engine (the local compare
  holds rel_tol=0 everywhere since round 10): order-sensitive float sums
  go through DECIMAL partials or are rounded/quantized on BOTH sides,
  norms use correctly-rounded sqrt (never pow), and per-row ratios keep
  the identical IEEE op sequence;
* no query depends on wall-clock, RNG, or row order (LIMIT always follows a
  total ORDER BY with a unique tiebreaker).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryBuilder = Callable[[SparkSession, str], DataFrame]


@dataclass
class EngineQuery:
    name: str
    build: QueryBuilder
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py headline set
    # Float columns whose docstring claims BIT-identity across engines
    # (shipped unrounded on purpose): the local parity sweeps compare
    # these at rel_tol=0, the same contract the driver's value hash
    # enforces, so a last-ulp cross-engine regression fails in CI instead
    # of only at the once-per-round sf0.1 driver tier (ADVICE r8).
    exact_float_cols: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, EngineQuery] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    bench: bool = False,
    exact_float_cols: tuple[str, ...] = (),
) -> Callable[[QueryBuilder], QueryBuilder]:
    def wrap(fn: QueryBuilder) -> QueryBuilder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = EngineQuery(
            name, fn, oracle, doc, tags, bench, exact_float_cols
        )
        return fn

    return wrap


def queries() -> dict[str, QueryBuilder]:
    _ensure_loaded()
    return {name: q.build for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


def bench_queries() -> dict[str, QueryBuilder]:
    _ensure_loaded()
    return {name: q.build for name, q in REGISTRY.items() if q.bench}


_LOADED = False

# The external verify driver attests exactly the FIRST 50 registered
# queries (dict insertion order), so the registry is re-ordered so this
# window leads.  The window is COMPUTED, not hand-curated: the policy
# (flagship first, stale-bench pins, never-attested / stalest-first fill
# from the committed CORRECTNESS_r*.json history, operator-family tag
# repair) lives in full_data_infrastructure_spark/rotation.py, alongside
# the full policy rationale.  Regenerate after each round's CORRECTNESS
# file lands with:
#
#     python -m full_data_infrastructure_spark.rotation
#
# tests/test_registry_order.py asserts the committed tuple equals the
# computed one, so the literal cannot silently drift from the policy.
DRIVER_WINDOW: tuple[str, ...] = (
    "flagship_benefits",
    "bu_salary_dashboard",
    "streaming_sliding_snapshot",
    "streaming_tumbling_snapshot",
    "threshold_validation",
    "token_budget_sample",
    "train_val_test_split",
    "triangle_count_parts",
    "validation_schema_check",
    "zorder_key_lineitem",
    "fulfillment_latency_sla",
    "funnel_three_step",
    "fuzzy_match_suppliers",
    "group_split_events",
    "lang_confusion_matrix",
    "lang_id",
    "lang_id_trigram",
    "max_staleness_by_user",
    "profile_by_key",
    "pseudonymize_customers",
    "quality_score",
    "rare_bigram_quality",
    "repeat_customer_rate",
    "repetition_signals",
    "rolling_active_users",
    "rolling_hash_fingerprint",
    "rollup_counts",
    "sample_hash",
    "semi_join",
    "session_overlap_pairs",
    "tfidf_top_token",
    "tpch_q3_shipping_priority",
    "vector_norms",
    "activity_heatmap",
    "anti_join",
    "benford_first_digit",
    "bpe_learn",
    "bpe_pair_counts",
    "bpe_tokenize_counts",
    "case_flag_arithmetic",
    "compact_small_files",
    "constraint_violations",
    "conversation_assembly",
    "corpus_datacard",
    "corpus_pipeline",
    "corpus_pipeline_full",
    "correlation_matrix",
    "cosine_threshold_histogram",
    "dedup_cluster_cc",
    "tpch_q5_region_volume",
)


def _reorder_for_driver_window() -> None:
    """Re-insert REGISTRY entries so DRIVER_WINDOW comes first, in order.

    Python dicts iterate in insertion order, which is exactly what the
    driver's 50-query cap consumes; the queries beyond the window keep
    their relative registration order.
    """
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"DRIVER_WINDOW names unregistered queries: {missing}")
    ordered = {n: REGISTRY[n] for n in DRIVER_WINDOW}
    ordered.update((n, q) for n, q in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    # Imported for their @register side effects.
    from full_data_infrastructure_spark.operators import (  # noqa: F401
        aggregates,
        curation,
        dedup,
        enrichment,
        generator,
        joins,
        layout,
        multimodal,
        packing,
        quality,
        relational,
        reshape,
        rollup,
        subqueries,
        similarity,
        text,
        windows,
    )
    from full_data_infrastructure_spark.functions import debezium  # noqa: F401
    from full_data_infrastructure_spark.plans import flagship_queries  # noqa: F401

    _reorder_for_driver_window()
    _LOADED = True
