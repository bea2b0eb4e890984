"""SparkSession factory tuned for both local testing and 100 TB clusters.

The reference builds its sessions ad hoc (``spark/SaveDelta.scala:20-40``,
``airflow/config/read_delta.py:16-25``) with S3A + Delta wiring and no
optimizer tuning. Here the session is built once, with the scale knobs the
reference is missing:

* **AQE on** (``spark.sql.adaptive.enabled``) — runtime partition coalescing,
  skew-join splitting, and dynamic join-strategy switching; this is what makes
  a static plan survive a 1000-executor 100 TB run.
* **Shuffle partition count** sized by env (``SPARK_GRAFT_CPUS`` locally;
  thousands on a real cluster — AQE coalesces the excess, in the final stage
  of persisted plans as well).
* **Arrow** for any pandas-UDF exchange (the slow path, but 10-100x less slow).
* **UTC session timezone** so timestamp semantics are stable across engines
  (the DuckDB oracle reads the same parquet as naive UTC).

Delta Lake is the reference's storage layer; it is optional here (the test
container ships parquet only), so Delta wiring is applied only when the
``delta`` package is importable — everything else degrades to parquet sinks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _local_cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app_name: str = "full_data_infrastructure_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    enable_delta: bool = True,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a real cluster, pass ``master=None`` and let spark-submit provide the
    master; locally defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cores = _local_cores()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cores}]")

    conf: dict[str, str] = {
        # --- optimizer / execution ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        # Let AQE coalesce the final stage of a persisted plan too. Off
        # (Spark's default), every cache taken after a shuffle is stored
        # as spark.sql.shuffle.partitions partitions, near-empty at small
        # scale, and every later scan of it launches that many tasks. A
        # cache whose consumers rely on its hash layout states it with a
        # fixed-width repartition, which AQE never coalesces
        # (joins.pagerank's edge table).
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        # 100 TB note: on a cluster this is set to ~2-3x total cores (e.g.
        # 8000 for 1000 executors x 4 cores) and AQE coalesces small stages.
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        # --- scan sizing: keep split size bounded so a 100 TB scan yields
        # well-shaped tasks instead of a few huge ones ---
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # --- python exchange ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # --- determinism across engines ---
        "spark.sql.session.timeZone": "UTC",
        # Parquet TIMESTAMP(NANOS) (pyarrow ts[ns], e.g. events.ts) is not a
        # legal Spark timestamp type; read it as int64 nanos and let the
        # source restore a timestamp column (sources/parquet.py).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # fault tolerance knobs the reference sets via env
        # (docker-compose.yaml:295-298)
        "spark.speculation": "false",  # meaningless on local; enable on cluster
        "spark.task.maxFailures": "4",
        # quieter local runs
        "spark.ui.enabled": os.environ.get("SPARK_GRAFT_UI", "false"),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }

    if enable_delta and _delta_available():
        conf["spark.sql.extensions"] = "io.delta.sql.DeltaSparkSessionExtension"
        conf["spark.sql.catalog.spark_catalog"] = (
            "org.apache.spark.sql.delta.catalog.DeltaCatalog"
        )

    if extra_conf:
        conf.update(extra_conf)
    for key, value in conf.items():
        builder = builder.config(key, value)

    return builder.getOrCreate()


def _delta_available() -> bool:
    """True when the delta-spark python package (and its jars) are present."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False
