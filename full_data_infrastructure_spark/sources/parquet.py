"""Columnar batch scans (S3 in SURVEY.md §2.1, generalized to parquet).

The reference scans Delta tables from object storage
(``airflow/config/read_delta.py:51``, ``spark/SaveDelta.scala:210,232``). The
engine's batch scan is a thin, *lazy* wrapper over ``spark.read`` — no eager
``.count()`` staging — that works identically for a local parquet directory
and an ``s3a://`` Delta location.

Scale notes (100 TB): the scan inherits predicate pushdown, column pruning,
and partition pruning from the parquet/Delta datasource; split sizing is
bounded by ``spark.sql.files.maxPartitionBytes`` (session.py). Nothing here
ever collects.
"""

from __future__ import annotations

import os
import warnings

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_data_infrastructure_spark.schemas import SYNTHETIC_TABLES


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP whatever parquet
    physical type the testdata generation produced. Works on batch AND
    streaming DataFrames (``dtypes`` is schema-only), so the streaming
    parity builders that ``readStream`` the events table directly apply
    the exact same repair as ``load_table``:

    * TIMESTAMP(NANOS) read as int64 under
      ``spark.sql.legacy.parquet.nanosAsLong`` → ``timestamp_micros``
      (integer division first, so no double rounding at 2^63 nanos);
    * tz-less parquet timestamp[us] loaded as TIMESTAMP_NTZ in Spark 4 →
      cast to TIMESTAMP so every consumer sees one type.
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Fan-out threshold: inputs estimated under this many bytes PER CORE of
# target parallelism get round-robin repartitioned before an expensive
# derivation. 16 MiB/core keeps the triggered shuffle trivially small
# (<= 512 MiB on a 32-core host) while guaranteeing the case that
# matters — a single-row-group file that scans as ONE task — fans out.
FAN_OUT_BYTES_PER_CORE = 16 * 1024 * 1024

# Width cap for the DERIVED target: defaultParallelism
# on a large cluster can be thousands, and a Catalyst size mis-estimate on
# a derived input would then inject a thousands-of-partitions round-robin
# exchange (target * 16 MiB of shuffle) where none was needed.  fan_out
# exists to give SMALL inputs a parallelism floor — 64-way is that floor's
# ceiling; an explicit ``min_partitions`` from a caller is honored as-is.
FAN_OUT_MAX_PARTITIONS = 64


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Scale-adaptive parallelism floor for compute-heavy derivations.

    A scan of a small table (one file with one parquet row group) yields a
    SINGLE input partition, so an expensive per-row derivation chained on
    it — tokenize -> shingle -> hash, or a fact-table self-join's map side
    — runs on one core while the rest of the host idles (measured: the
    whole MinHash pipeline serialized on 1 of 32 cores at sf0.1). At
    warehouse scale the same scan yields thousands of splits and needs no
    help; ``spark.sql.files.minPartitionNum`` cannot fix the small case
    because a single row group is not splittable below one task.

    So: round-robin repartition up to the session's default parallelism
    ONLY when the optimizer's size estimate says the input is small
    (under ``FAN_OUT_BYTES_PER_CORE`` per core of target parallelism).
    The branch is decided from the optimized plan's statistics — no job
    runs, no stage executes (``df.rdd`` would eagerly run AQE stages on a
    derived input, so partition-count probing is NOT safe here) — and at
    warehouse scale the estimate is huge, so the exchange never appears
    in a 100 TB plan (guide §2: derive partitioning from input size
    instead of tuning a constant for either regime). When it does fire,
    the shuffled bytes are bounded by the same threshold that fired it.
    Only safe where downstream results are partitioning-independent —
    every aggregation in the engine is (integer/DECIMAL lattices,
    min/count), the repo's standing bit-identity contract.
    """
    spark = df.sparkSession
    target = min_partitions or min(
        spark.sparkContext.defaultParallelism, FAN_OUT_MAX_PARTITIONS
    )
    try:
        # Private PySpark surface (no public stats accessor exists); a
        # minor-version drift here must degrade to the scale-safe branch
        # — identity, no exchange — never break every caller at once,
        # and must say so (pinned by test_fan_out_survives_stats_probe_drift).
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except (AttributeError, Py4JError) as e:
        warnings.warn(
            f"fan_out: plan size probe failed ({e!r}); input left unfanned",
            RuntimeWarning,
            stacklevel=2,
        )
        return df
    if size >= target * FAN_OUT_BYTES_PER_CORE:
        return df
    return df.repartition(target)


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fmt: str = "parquet",
) -> DataFrame:
    """Lazy scan of one table from a scale-factor directory.

    ``events.ts`` may be stored as parquet TIMESTAMP(NANOS), which Spark
    reads as int64 (spark.sql.legacy.parquet.nanosAsLong) — restore a
    proper timestamp column via :func:`normalize_event_ts`.

    Calendar semantics are UTC **by contract**: parquet timestamps are
    instants, and every calendar operation downstream (``date_trunc``,
    ``window``, ``date_format``, session gaps) renders instants in the
    SESSION timezone — so a cluster whose default TZ drifted from UTC
    would silently shift every day/hour bucket boundary (and diverge
    from any naive-timestamp engine reading the same files). The loader
    pins the session TZ the same way it pins the nanos conf: results
    are identical whatever the host or cluster default, even on a
    vanilla session that never went through ``build_session``
    (tests/test_tz_semantics.py drives the registry under a +05:45
    session TZ to hold this).

    The pin is a session-global side effect (calendar rendering happens
    at action time, not load time, so a scoped set-and-restore would
    not actually protect the result) — so when it overrides a non-UTC
    value the caller chose deliberately, say so instead of clobbering
    silently.
    """
    prior_tz = spark.conf.get("spark.sql.session.timeZone", None)
    if prior_tz not in (None, "UTC", "Etc/UTC", "+00:00", "Z", "GMT"):
        warnings.warn(
            f"load_table pins spark.sql.session.timeZone to UTC for the "
            f"engine's calendar contract, overriding the session's current "
            f"{prior_tz!r} for ALL subsequent queries in this session; "
            f"re-set it after engine reads if you need local-time rendering "
            f"elsewhere",
            stacklevel=2,
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # Must hold even when the caller (e.g. the verify driver) built a
        # vanilla session — the legacy conf is runtime-settable.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.format(fmt).load(table_path(sf_dir, name))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def register_temp_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = SYNTHETIC_TABLES
) -> None:
    """Register every synthetic table as a temp view for ``spark.sql`` use.

    Mirrors the reference's Trino catalog registration (README.md:115-121,
    S14) — one SQL namespace over all tables.
    """
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
