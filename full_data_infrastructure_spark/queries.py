"""Named query surface — the engine's public, oracle-checked API.

Every operator family from SURVEY.md §2 (plus the LLM-data extensions) is
exposed here as a named query: a builder ``(spark, sf_dir) -> DataFrame`` and,
where SQL-expressible, an equivalent ANSI-SQL oracle that DuckDB runs on the
same parquet tables. ``tests/test_oracle_parity.py`` compares the two (row
count + column names + order-insensitive values, floats at rel_tol=0), so:

* every computed column is **aliased identically** on both sides;
* every float column is **bit-identical** cross-engine: order-sensitive
  float sums go through DECIMAL partials or are rounded/quantized on BOTH
  sides, norms use correctly-rounded sqrt (never pow), and per-row ratios
  keep the identical IEEE op sequence;
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
    # Float columns whose docstring claims BIT-identity across engines
    # (shipped unrounded on purpose): the parity sweeps compare these at
    # rel_tol=0, so a last-ulp cross-engine regression fails the suite.
    exact_float_cols: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, EngineQuery] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    exact_float_cols: tuple[str, ...] = (),
) -> Callable[[QueryBuilder], QueryBuilder]:
    def wrap(fn: QueryBuilder) -> QueryBuilder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = EngineQuery(name, fn, oracle, doc, tags, exact_float_cols)
        return fn

    return wrap


def queries() -> dict[str, QueryBuilder]:
    _ensure_loaded()
    return {name: q.build for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


_LOADED = False


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

    _LOADED = True
