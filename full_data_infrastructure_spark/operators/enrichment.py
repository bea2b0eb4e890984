"""External-API enrichment UDF stage — SURVEY.md §2.11 U1.

The reference enriches each employee row with commute distance/duration via
the Google Distance Matrix HTTP API in a Python loop with a 0.2 s sleep
(``commute_validation/commute_validation.py:20-125``). Re-expressed as an
Arrow-batched ``mapInPandas`` stage with:

* a **pluggable provider** seam (the real HTTP client goes on a cluster;
  tests and oracles use a deterministic mock, per FIXTURES.md §3.4);
* **client-side rate limiting** inside each task (the reference's 0.2 s/req
  throttle, applied per-executor — set requests_per_sec to bound the global
  rate divided by task parallelism);
* **null-safe error semantics**: provider failures produce NULL
  distance/duration plus an error_message, never a dropped row — mirroring
  commute_validation.py:113-121;
* the downstream **threshold validation** (is_valid = distance <= per-mode
  limit, commute_validation.py:15-18,109-112).

Catalyst note: the UDF is opaque to the optimizer, so it is isolated behind
a narrow projection (only id/address/mode go in) — pruning and pushdown
still apply to everything around it (SURVEY.md §4c).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_data_infrastructure_spark.queries import register
from full_data_infrastructure_spark.sources.parquet import load_table

# Per-mode distance limits in meters (commute_validation.py:15-18:
# walk/run 15 km, bike/scooter 25 km). Mapped onto synthetic segments.
TRANSPORT_LIMITS_M = {
    "AUTOMOBILE": 15000.0,
    "BUILDING": 25000.0,
}

ENRICHED_SCHEMA = (
    "id_employee bigint, transport_mode string, distance_m double, "
    "duration_s double, error_message string"
)

DistanceProvider = Callable[[int, str], tuple[float, float]]


def mock_distance_provider(key: int, mode: str) -> tuple[float, float]:
    """Deterministic stand-in for the Distance Matrix API: distance derived
    from the key by pure arithmetic (oracle-reproducible); duration at an
    exact-binary 2.0 m/s so no float rounding can diverge across engines."""
    distance_m = float((key * 37) % 30000)
    return distance_m, distance_m / 2.0


def failing_provider(key: int, mode: str) -> tuple[float, float]:
    """Provider that always raises — exercises the error-row path."""
    raise RuntimeError("distance API unavailable")


def enrich_with_distance(
    df: DataFrame,
    provider: DistanceProvider = mock_distance_provider,
    requests_per_sec: float | None = None,
) -> DataFrame:
    """U1: (id_employee, transport_mode) -> distance/duration/error columns."""
    min_interval = 1.0 / requests_per_sec if requests_per_sec else 0.0

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last_call = 0.0
        for pdf in batches:
            out_rows = []
            for key, mode in zip(pdf["id_employee"], pdf["transport_mode"]):
                if min_interval:
                    wait = min_interval - (time.monotonic() - last_call)
                    if wait > 0:
                        time.sleep(wait)
                    last_call = time.monotonic()
                # A null mode must stay NULL through the batch boundary —
                # str(None) would smuggle the string 'None' into the lake
                # (caught by the null-injected parity sweep).
                mode_norm = None if pd.isna(mode) else str(mode)
                try:
                    distance_m, duration_s = provider(int(key), mode_norm)
                    out_rows.append((int(key), mode_norm, distance_m, duration_s, None))
                except Exception as exc:  # null row + message, never a drop
                    out_rows.append((int(key), mode_norm, None, None, str(exc)))
            yield pd.DataFrame(
                out_rows,
                columns=[
                    "id_employee",
                    "transport_mode",
                    "distance_m",
                    "duration_s",
                    "error_message",
                ],
            )

    return df.mapInPandas(run, ENRICHED_SCHEMA)


def validate_enriched(enriched: DataFrame) -> DataFrame:
    """P8 threshold validation over the enriched rows (broadcast limits)."""
    spark = enriched.sparkSession
    limits = spark.createDataFrame(
        [(k, v) for k, v in TRANSPORT_LIMITS_M.items()],
        "transport_mode string, limit_m double",
    )
    return enriched.join(F.broadcast(limits), "transport_mode", "left").withColumn(
        "is_valid",
        F.when(F.col("distance_m").isNull(), F.lit(None).cast("boolean")).otherwise(
            F.col("distance_m") <= F.col("limit_m")
        ),
    )


@register(
    "enrichment_distance",
    f"""
    WITH enriched AS (
        SELECT c_custkey AS id_employee,
               c_mktsegment AS transport_mode,
               CAST((c_custkey * 37) % 30000 AS DOUBLE) AS distance_m,
               CAST((c_custkey * 37) % 30000 AS DOUBLE) / 2.0 AS duration_s
        FROM customer
    ),
    limits(transport_mode, limit_m) AS (
        VALUES ('AUTOMOBILE', CAST({TRANSPORT_LIMITS_M['AUTOMOBILE']} AS DOUBLE)),
               ('BUILDING', CAST({TRANSPORT_LIMITS_M['BUILDING']} AS DOUBLE))
    )
    SELECT e.id_employee, e.transport_mode, e.distance_m, e.duration_s,
           CAST(NULL AS VARCHAR) AS error_message,
           l.limit_m,
           CASE WHEN e.distance_m IS NULL THEN NULL
                ELSE e.distance_m <= l.limit_m END AS is_valid
    FROM enriched e
    LEFT JOIN limits l USING (transport_mode)
    """,
    doc="U1 + P8: Arrow-batched mapInPandas enrichment with the deterministic "
    "mock provider, then broadcast-join threshold validation. The oracle "
    "recomputes the mock arithmetic in SQL — proving the distributed UDF "
    "machinery produces exactly the declared semantics.",
    tags=("reference", "udf", "enrichment"),
)
def _enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id_employee"),
        F.col("c_mktsegment").alias("transport_mode"),
    )
    enriched = enrich_with_distance(customer)
    return validate_enriched(enriched).select(
        "id_employee",
        "transport_mode",
        "distance_m",
        "duration_s",
        "error_message",
        "limit_m",
        "is_valid",
    )
