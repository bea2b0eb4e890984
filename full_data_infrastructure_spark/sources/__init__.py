"""Sources & sinks — the engine's S1-S15 surface (SURVEY.md §2.1)."""

from full_data_infrastructure_spark.sources.parquet import load_table

__all__ = ["load_table"]
