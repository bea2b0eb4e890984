"""CDC streaming ingest — the reference's flagship pipeline re-expressed
(SURVEY.md §3.1; ``spark/SaveDelta.scala``).

Reference chain: Kafka source (``SaveDelta.scala:104-112``) -> cast
projection (``:134-135``) -> 7x get_json_object (``:139-148``) -> isNotNull
filter (``:149``) -> Delta append sink with checkpoint + 30 s trigger
(``:157-163``).

Engine chain: Kafka (or file/rate, for CI) source -> ONE ``from_json``
against the full envelope StructType -> explicit op handling (tombstones
dropped or routed) -> parquet/Delta append sink, checkpointed, triggered.

Scale notes (100 TB / high-rate topics):
* ``maxOffsetsPerTrigger`` bounds micro-batch size (the reference leaves it
  unset — unbounded first batch on ``earliest`` is an OOM at scale);
* the sink writes unpartitioned unless the caller passes ``partition_by``
  (an event-date column, say, so downstream scans prune);
* exactly-once = checkpointed offsets + idempotent file commit (parquet/
  Delta); the decode is stateless so recovery is trivial.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from full_data_infrastructure_spark.functions.debezium import decode_envelope
from full_data_infrastructure_spark.sqltext import ident, run_over_views


def kafka_cdc_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
    max_offsets_per_trigger: int | None = 1_000_000,
) -> DataFrame:
    """S1 (SaveDelta.scala:104-112) — Kafka streaming source.

    Identical options to the reference, plus maxOffsetsPerTrigger (unset in
    the reference; required at scale so the first earliest-offset batch is
    bounded). Requires the spark-sql-kafka package on the cluster.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()


def file_cdc_source(spark: SparkSession, path: str) -> DataFrame:
    """CI stand-in for the Kafka topic: a directory of JSON-lines files,
    one envelope per line, schema (key string, value string) like Kafka
    after the cast projection (P1)."""
    schema = T.StructType(
        [
            T.StructField("key", T.StringType(), True),
            T.StructField("value", T.StringType(), True),
        ]
    )
    return spark.readStream.schema(schema).json(path)


def rate_test_source(spark: SparkSession, rows_per_second: int = 1) -> DataFrame:
    """S2 (SaveDelta.scala:123-127) — synthetic fallback stream."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def decode_cdc_stream(
    raw: DataFrame,
    after_schema: T.StructType,
    keep_ops: tuple[str, ...] = ("c", "r", "u"),
) -> DataFrame:
    """P1-P3/F1-F2 on the stream: cast the Kafka value to string, parse the
    envelope once, keep upserts, drop tombstones (explicitly — the
    reference does this silently via isNotNull, SaveDelta.scala:149)."""
    value = raw.selectExpr("CAST(value AS STRING) AS value")
    return decode_envelope(value, "value", after_schema, keep_ops=keep_ops)


def with_ingest_timestamp(df: DataFrame) -> DataFrame:
    """F10 — the reference's ``created_at TIMESTAMP WITH TIME ZONE DEFAULT
    CURRENT_TIMESTAMP`` insert default (init-db.sql:33) as an ingest-time
    ``ingested_at`` metadata column. Evaluated per micro-batch at write
    time."""
    return df.withColumn("ingested_at", F.current_timestamp())


def start_cdc_ingest(
    decoded: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    fmt: str = "parquet",
    trigger_seconds: int | None = 30,
    available_now: bool = False,
    partition_by: tuple[str, ...] = (),
) -> StreamingQuery:
    """S9/T1-T3 (SaveDelta.scala:157-163): append sink, checkpointed,
    30 s processing-time trigger (or availableNow for bounded CI runs)."""
    from full_data_infrastructure_spark.streaming.sinks import start_writer

    writer = (
        decoded.writeStream.format(fmt)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return start_writer(writer, available_now, trigger_seconds, sink_path)


def reconcile_counts(spark: SparkSession, table_path: str, expected: int, fmt: str = "parquet") -> dict:
    """T7/A4 (SaveDelta.scala:210-220): batch-read the streaming sink and
    reconcile row counts — the reference's streamed-vs-stored diagnostic."""
    actual = spark.read.format(fmt).load(table_path).count()
    return {
        "expected": expected,
        "actual": actual,
        "match": actual == expected,
        "explanation": None
        if actual == expected
        else "mismatch: in-flight micro-batch, dropped tombstones, or replay",
    }


# Higher stage wins an order_col tie under MAX_BY: d=3 > u=2 > r=1 > c=0.
_OP_STAGE = (
    "CASE WHEN `op` = 'd' THEN 3 WHEN `op` = 'u' THEN 2 "
    "WHEN `op` = 'r' THEN 1 ELSE 0 END"
)


def latest_changes_sql(
    changes: str, cols: Sequence[str], key: str, order_col: str
) -> str:
    """The latest change per ``key`` in relation ``changes`` (columns
    ``cols``, output in that order); see :func:`latest_changes`."""
    k = ident(key)
    payload = ", ".join(ident(c) for c in cols if c != key)
    picked = ", ".join(
        k if c == key else f"_latest.{ident(c)} AS {ident(c)}" for c in cols
    )
    return f"""
    SELECT {picked} FROM (
        SELECT {k},
               MAX_BY(STRUCT({payload}),
                      STRUCT({ident(order_col)}, {_OP_STAGE})) AS _latest
        FROM {changes} GROUP BY {k}
    )"""


def apply_cdc_sql(
    snapshot: str | None,
    changes: str,
    change_cols: Sequence[str],
    snapshot_cols: Sequence[str],
    key: str,
    order_col: str,
) -> str:
    """The CDC fold of relation ``changes`` into relation ``snapshot``
    (``None``: no snapshot yet); see :func:`apply_cdc_batch`. Output
    columns are ``snapshot_cols``, untouched snapshot rows first."""
    latest = latest_changes_sql(changes, change_cols, key, order_col)
    upserts = (
        f"SELECT {', '.join(ident(c) for c in snapshot_cols)} "
        "FROM latest WHERE `op` != 'd'"
    )
    if snapshot is None:
        return f"WITH latest AS ({latest}) {upserts}"
    k = ident(key)
    return f"""
    WITH latest AS ({latest})
    SELECT {', '.join(f's.{ident(c)}' for c in snapshot_cols)}
    FROM {snapshot} s LEFT ANTI JOIN latest l ON s.{k} = l.{k}
    UNION ALL
    {upserts}"""


def latest_changes(
    changes: DataFrame, key: str, order_col: str = "ts_ms"
) -> DataFrame:
    """Latest change per key within a batch — the shared pre-step of both
    the parquet apply-overwrite path and the Delta MERGE path (MERGE
    requires a unique source row per target key).

    Ties on ``order_col`` (Debezium ts_ms is millisecond-grained; fast
    successive ops share one) resolve by lifecycle stage — delete beats
    update beats snapshot-read beats create — so a create+delete pair in
    the same millisecond deletes rather than resurrecting the row
    (lexicographic op order would keep the create). When the source
    provides a true offset/LSN, pass it as ``order_col`` instead; the
    stage tiebreak then only covers exact offset ties, which cannot
    happen.

    Implemented as ``MAX_BY`` over an (order_col, stage) comparator struct
    rather than a ``ROW_NUMBER`` window: an aggregation gets map-side
    partial combine (each shuffle partition ships one pre-reduced row per
    key, not every change) and skips the per-partition sort — this runs
    once per micro-batch in the upsert sink, so its constant factor is
    the sink's steady-state cost.
    """
    cols = changes.columns
    return run_over_views(
        lambda changes: latest_changes_sql(changes, cols, key, order_col),
        changes=changes,
    )


def apply_cdc_batch(snapshot: DataFrame, changes: DataFrame, key: str) -> DataFrame:
    """T8 completion — apply a CDC micro-batch with FULL op semantics to a
    table snapshot: upserts (``c``/``r``/``u``) replace rows by key, deletes
    (``d``) remove them; the latest change per key (by ``ts_ms``,
    key-tiebroken deterministically) wins within the batch.

    The reference silently DROPS updates/deletes (its not-null filter,
    ``SaveDelta.scala:149``, discards tombstones and its workload is
    insert-only). This operator is what a ``u``/``d``-bearing topic needs.

    Used from ``foreachBatch``: read current snapshot, apply, overwrite (or
    Delta ``MERGE INTO`` where Delta is available — same semantics, atomic).
    Shuffle cost: one map-side-combined aggregation over the batch (small)
    + one anti-join keyed on ``key``; a micro-batch's distinct-key set is
    bounded by the trigger size (``maxOffsetsPerTrigger`` on a real
    topic), so AQE plans the anti-join as a broadcast at runtime and the
    snapshot is never shuffled on an unkeyed column.
    """
    change_cols, snapshot_cols = changes.columns, snapshot.columns
    return run_over_views(
        lambda snapshot, changes: apply_cdc_sql(
            snapshot, changes, change_cols, snapshot_cols, key, "ts_ms"
        ),
        snapshot=snapshot,
        changes=changes,
    )
