"""Registers the flagship pipeline (and its SQL-surface variant) as queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_data_infrastructure_spark.plans.flagship import (
    FLAGSHIP_ORACLE_SQL,
    flagship_benefits,
)
from full_data_infrastructure_spark.queries import register


@register(
    "flagship_benefits",
    FLAGSHIP_ORACLE_SQL,
    doc=(
        "Reference batch join job (read_delta.py:234-294) + Superset benefits "
        "SQL (README.md:141-164) as one lazy chain: A1 agg, J1 inner join, "
        "J2 left join, prime/total projection (F4-F7, P11)."
    ),
    tags=("reference", "join", "aggregate"),
)
def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flagship_benefits(spark, sf_dir)


@register(
    "bu_salary_dashboard",
    f"""
    WITH final AS ({FLAGSHIP_ORACLE_SQL})
    SELECT business_unity,
           COUNT(*) AS n_validations,
           CAST(ROUND(AVG(gross_salary), 2) AS DOUBLE) AS avg_salary_before,
           CAST(ROUND(AVG(total_salary), 2) AS DOUBLE) AS avg_salary_after,
           CAST(SUM(CASE WHEN is_valid THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS validation_rate,
           CAST(SUM(CASE WHEN is_valid_activities THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS active_rate
    FROM final
    GROUP BY business_unity
    """,
    doc="The Superset dashboard metrics (reference README.md:167-172): "
    "per-BU salary before/after prime, validation rate, activity-flag "
    "rate — one aggregate over the flagship output (still a single lazy "
    "plan end-to-end: scan -> agg -> 2 joins -> projection -> agg).",
    tags=("reference", "dashboard", "aggregate"),
)
def _bu_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    final = flagship_benefits(spark, sf_dir)
    return final.groupBy("business_unity").agg(
        F.count(F.lit(1)).alias("n_validations"),
        F.round(F.avg("gross_salary"), 2).cast("double").alias("avg_salary_before"),
        F.round(F.avg("total_salary"), 2).cast("double").alias("avg_salary_after"),
        (
            F.sum(F.when(F.col("is_valid"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("validation_rate"),
        (
            F.sum(F.when(F.col("is_valid_activities"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("active_rate"),
    )
