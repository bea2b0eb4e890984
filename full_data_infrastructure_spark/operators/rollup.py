"""Hypertable-style time-bucket rollups (continuous aggregates).

The reference's dashboards recompute aggregates from raw rows on every
query (Superset SQL over the ``final`` table, ``README.md:141-172``). At
100 TB of events that is untenable; the standard fix — TimescaleDB calls
it a continuous aggregate, streaming systems a cube/rollup — is to keep
*algebraic partial aggregates* per fine time bucket and answer coarser
windows by merging partials, never rescanning raw events.

Algebraic design: every kept statistic merges associatively —
``n`` (sum), ``sum_value`` (sum), ``min``/``max`` (min/max). ``avg`` is
derived at read time as ``sum / n``, never stored (an avg of avgs is
wrong under uneven buckets). Sums are DECIMAL(18,2) so partial order
never changes the result — double accumulation would make
merged-vs-direct differ in the last ulp and across engines.

Scale notes: partials shrink events by the bucket cardinality (≈10^4-10^6
rows per 10^10) — the merge layer runs on a table that fits in one
executor's memory. Write partials date-partitioned; late data upserts one
bucket, not the day's raw partition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_data_infrastructure_spark.queries import register
from full_data_infrastructure_spark.sources.parquet import load_table
from full_data_infrastructure_spark.sqltext import ident, literal, run_over_views

PARTIAL_COLS = ("n_events", "sum_value", "min_value", "max_value")


def rollup_partials_sql(
    events: str,
    unit: str = "hour",
    keys: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """The partials of relation ``events``; see :func:`rollup_partials`."""
    v = ident(value_col)
    return f"""
    SELECT DATE_TRUNC({literal(unit)}, {ident(ts_col)}) AS bucket,
           {"".join(f"{ident(k)}, " for k in keys)}
           COUNT(1) AS n_events,
           SUM(CAST({v} AS DECIMAL(18,2))) AS sum_value,
           MIN({v}) AS min_value,
           MAX({v}) AS max_value
    FROM {events} GROUP BY ALL"""


def merge_partials_sql(
    partials: str, unit: str = "day", keys: Sequence[str] = ("event_type",)
) -> str:
    """The coarser-bucket merge of relation ``partials``; see
    :func:`merge_partials`."""
    return f"""
    SELECT DATE_TRUNC({literal(unit)}, bucket) AS bucket,
           {"".join(f"{ident(k)}, " for k in keys)}
           SUM(n_events) AS n_events,
           SUM(sum_value) AS sum_value,
           MIN(min_value) AS min_value,
           MAX(max_value) AS max_value
    FROM {partials} GROUP BY ALL"""


def rollup_partials(
    events: DataFrame,
    unit: str = "hour",
    keys: tuple[str, ...] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Algebraic partial aggregates per (time bucket, *keys)."""
    return run_over_views(
        lambda events: rollup_partials_sql(events, unit, keys, ts_col, value_col),
        events=events,
    )


def merge_partials(
    partials: DataFrame,
    unit: str = "day",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Re-aggregate fine partials into a coarser bucket. Each statistic
    merges with its own combiner; no raw-event rescan. Merging into the
    partials' own unit is the identity on buckets, which is how the
    streaming rollup sink folds a batch's partials into the stored ones."""
    return run_over_views(
        lambda partials: merge_partials_sql(partials, unit, keys),
        partials=partials,
    )


def with_avg(df: DataFrame) -> DataFrame:
    """Derive avg at read time: exact decimal sum over exact count, cast
    once to double — identical operands on any engine."""
    return df.withColumn(
        "avg_value",
        F.col("sum_value").cast("double") / F.col("n_events"),
    )


@register(
    "hypertable_rollup_hourly",
    """
    SELECT date_trunc('hour', ts) AS bucket,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Hourly continuous-aggregate partials over events: count / decimal "
    "sum / min / max per (hour, event_type) — the stored layer of the "
    "hypertable rollup. The stored partial stays DECIMAL (order-independent "
    "merge); only the FINAL projection casts to DOUBLE so both engines "
    "materialize the same dtype (Spark Decimal vs DuckDB DECIMAL(38,2)->"
    "float64 hash-differ even when cell values are identical).",
    tags=("rollup", "events"),
)
def _rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    partials = rollup_partials(events, unit="hour")
    return partials.withColumn("sum_value", F.col("sum_value").cast("double"))


@register(
    "hypertable_rollup_merge",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Daily stats answered by MERGING hourly partials (sum-of-sums, "
    "min-of-mins, derived avg) — the oracle aggregates raw events "
    "directly, so a hash match proves the rollup is lossless: "
    "merge(partials) == direct aggregation.",
    tags=("rollup", "events"),
)
def _rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = rollup_partials(events, unit="hour")
    daily = with_avg(merge_partials(hourly, unit="day"))
    return daily.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
        "avg_value",
    )


@register(
    "streaming_rollup_snapshot",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS bucket,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Streaming continuous-aggregate parity: run the events table "
    "through start_rollup_sink (streaming/sinks.py) as a real "
    "availableNow file stream — micro-batch partials folded into the "
    "stored partials table with per-statistic combiners and a batch-id "
    "fence — then read the resulting snapshot back. The oracle "
    "aggregates raw events directly, so a hash match proves the "
    "incremental streaming fold is lossless: fold(micro-batches) == "
    "direct aggregation, whatever the micro-batch boundaries were. "
    "Buckets are emitted as wall-time strings so the comparison is "
    "timezone-representation-proof.",
    tags=("rollup", "events", "streaming"),
)
def _streaming_rollup_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from full_data_infrastructure_spark.sources.parquet import (
        normalize_event_ts,
        table_path,
    )
    from full_data_infrastructure_spark.cache import hold_dir
    from full_data_infrastructure_spark.streaming.replay import (
        replay_workdir,
        symlink_table_files,
    )
    from full_data_infrastructure_spark.streaming.sinks import start_rollup_sink

    src = table_path(sf_dir, "events")
    work = replay_workdir("rollup_snapshot_")
    # The file stream source wants a DIRECTORY of data files (no recursion);
    # symlink the table in — zero copy.
    src_dir = os.path.join(work, "events_src")
    symlink_table_files(src, src_dir)
    # Schema from the footer — a metadata-only read. nanosAsLong must be
    # set BEFORE it (the generator may store ts as TIMESTAMP(NANOS)), and
    # the stream then needs the same ts repair load_table applies: a
    # bigint ts would reach rollup_partials' date_trunc and fail analysis.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(src).schema
    events = normalize_event_ts(spark.readStream.schema(schema).parquet(src_dir))
    partials_path = f"{work}/partials"
    q = start_rollup_sink(
        events,
        partials_path=partials_path,
        checkpoint_path=f"{work}/checkpoint",
        unit="hour",
        available_now=True,
    )
    q.awaitTermination()
    snapshot = spark.read.parquet(partials_path)
    return hold_dir(work, snapshot.select(
        F.date_format("bucket", "yyyy-MM-dd HH:00:00").alias("bucket"),
        "event_type",
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        "min_value",
        "max_value",
    ))


@register(
    "gapfill_locf",
    """
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ),
    grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        FROM bounds
    ),
    keys AS (SELECT DISTINCT event_type FROM events),
    obs AS (
        SELECT date_trunc('hour', ts) AS bucket,
               event_type,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                   AS hour_avg
        FROM events
        GROUP BY 1, 2
    )
    SELECT k.event_type,
           g.bucket,
           o.hour_avg IS NOT NULL AS observed,
           last_value(o.hour_avg IGNORE NULLS) OVER (
               PARTITION BY k.event_type ORDER BY g.bucket
           ) AS value_locf
    FROM keys k
    CROSS JOIN grid g
    LEFT JOIN obs o ON o.event_type = k.event_type AND o.bucket = g.bucket
    """,
    doc="Time-bucket gap filling with last-observation-carried-forward "
    "(TimescaleDB's time_bucket_gapfill + locf, the read-side companion "
    "of the continuous aggregate the reference's dashboards would need "
    "for sparse series — Superset charts over `final`, README.md:141-172, "
    "show holes wherever an hour has no events). A dense (event_type x "
    "hour) grid spanning the table's range is derived from sequence(), "
    "left-joined to the hourly partials, and the per-key running "
    "last(ignorenulls) carries the previous hour's avg across gaps; "
    "hours before a key's first observation stay NULL on both engines. "
    "The hour_avg is derived exactly as with_avg: exact DECIMAL sum over "
    "exact count, one cast to double — identical IEEE operands on both "
    "engines, so the carried value hash-matches too.",
    tags=("rollup", "events"),
)
def _gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    # Raw-data pass #1 (map-side combined): hourly algebraic partials,
    # reusing the continuous-aggregate layer — at 100 TB the gapfill reads
    # the stored partials, never raw events; recomputing here keeps the
    # query self-contained against the parquet tables.
    obs = rollup_partials(events, unit="hour").select(
        "bucket",
        "event_type",
        (F.col("sum_value").cast("double") / F.col("n_events")).alias("hour_avg"),
    )
    # The dense grid is tiny by construction: (time range / bucket width)
    # x key cardinality, independent of row count — 100 TB of events over
    # a decade is still < 10^6 grid rows for a low-cardinality key.
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket")
    )
    keys = events.select("event_type").distinct()
    dense = keys.crossJoin(grid)
    # Same default frame both engines: RANGE UNBOUNDED PRECEDING..CURRENT
    # ROW; bucket is unique per key, so it equals the ROWS frame.
    w = Window.partitionBy("event_type").orderBy("bucket")
    return dense.join(obs, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        F.col("hour_avg").isNotNull().alias("observed"),
        F.last("hour_avg", ignorenulls=True).over(w).alias("value_locf"),
    )
