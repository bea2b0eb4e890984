"""Debezium CDC envelope encode/decode — SURVEY.md §2.8 F1/F2, §2.2 P1-P3.

The reference extracts envelope fields one-by-one with ``get_json_object``
(``spark/SaveDelta.scala:140-147``) and converts Debezium's
microseconds-since-epoch timestamps with ``from_unixtime(x/1000000)``
(``:143``). Here the decode is a single ``from_json`` against the full
envelope StructType (one parse instead of seven), ``timestamp_micros`` for
the epoch conversion, and explicit ``op`` handling — including the delete
events (``after IS NULL``, row image in ``before``) the reference silently
drops at ``SaveDelta.scala:149``; here they are dropped *explicitly* by
default, and decoded from the ``before`` image when ``'d'`` is kept (the
full-upsert/delete path of ``apply_cdc_batch``).

Used by both the batch registered query below and the streaming CDC pipeline
(streaming/cdc.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def envelope_schema(after_schema: T.StructType) -> T.StructType:
    """Debezium JSON envelope: {payload: {before, after, op, ts_ms}}."""
    return T.StructType(
        [
            T.StructField(
                "payload",
                T.StructType(
                    [
                        T.StructField("before", after_schema, True),
                        T.StructField("after", after_schema, True),
                        T.StructField("op", T.StringType(), True),
                        T.StructField("ts_ms", T.LongType(), True),
                    ]
                ),
                True,
            )
        ]
    )


def decode_envelope(
    df: DataFrame,
    value_col: str,
    after_schema: T.StructType,
    keep_ops: tuple[str, ...] = ("c", "r", "u"),
) -> DataFrame:
    """P1-P3/F1: parse the envelope once, keep ``keep_ops``, flatten the image.

    Upsert ops (``c``/``r``/``u``) carry their row image in ``after``;
    delete events carry it in ``before`` (Debezium emits ``after=null`` on
    deletes), so when ``'d'`` is kept the ``before`` image is projected —
    otherwise deletes could never reach ``apply_cdc_batch`` regardless of
    ``keep_ops``. Returns the flattened image plus ``op`` and ``ts_ms``.
    Malformed JSON yields NULL payloads and is filtered like the
    reference's isNotNull guard (SaveDelta.scala:149).
    """
    parsed = df.withColumn(
        "_env", F.from_json(F.col(value_col).cast("string"), envelope_schema(after_schema))
    )
    op = F.col("_env.payload.op")
    image = F.when(op == "d", F.col("_env.payload.before")).otherwise(
        F.col("_env.payload.after")
    )
    return (
        parsed.withColumn("_img", image)
        .filter(op.isin(*keep_ops) & F.col("_img").isNotNull())
        .select(
            F.col("_img.*"),
            op.alias("op"),
            F.col("_env.payload.ts_ms").alias("ts_ms"),
        )
    )


def micros_to_timestamp(col: Column | str) -> Column:
    """F2: Debezium micro-epoch int64 -> timestamp (SaveDelta.scala:143,
    minus the reference's string round-trip)."""
    return F.timestamp_micros(F.col(col) if isinstance(col, str) else col)


# ---------------------------------------------------------------------------
# Registered batch query: encode -> decode round trip over `events`
# ---------------------------------------------------------------------------

from pyspark.sql import SparkSession  # noqa: E402

from full_data_infrastructure_spark.queries import register  # noqa: E402
from full_data_infrastructure_spark.sources.parquet import load_table  # noqa: E402

_EVENT_AFTER_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("ts_us", T.LongType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def build_envelopes(events: DataFrame) -> DataFrame:
    """Wrap events in Debezium envelopes: purchases are inserts ('c'),
    errors are delete tombstones (after=NULL), everything else snapshot
    reads ('r') — per FIXTURES.md §1's envelope fixture requirements."""
    op = (
        F.when(F.col("event_type") == "purchase", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("r")
    )
    image = F.struct(
        F.col("event_id").alias("id"),
        F.col("user_id").alias("user_id"),
        F.col("event_type").alias("event_type"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("value").alias("value"),
    )
    # Debezium contract: deletes put the row image in `before` with
    # after=null; upserts put it in `after`.
    payload = F.struct(
        F.when(op == "d", image).alias("before"),
        F.when(op != "d", image).alias("after"),
        op.alias("op"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    return events.select(
        F.col("event_id").cast("string").alias("key"),
        F.to_json(F.struct(payload.alias("payload"))).alias("value"),
    )


@register(
    "debezium_roundtrip",
    """
    SELECT event_id AS id,
           user_id,
           event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
           ROUND(value, 2) AS value,
           CASE WHEN event_type = 'purchase' THEN 'c' ELSE 'r' END AS op
    FROM events
    WHERE event_type IS DISTINCT FROM 'error'
    """,
    doc="CDC envelope encode->decode round trip (P1-P3, F1-F2): events "
    "wrapped as Debezium JSON (errors become delete tombstones), parsed "
    "with one from_json, tombstones dropped, micro-epoch timestamps "
    "restored. Oracle computes the expected fixed point directly. Only "
    "the literal 'error' type is a tombstone: a NULL event_type is still "
    "a change event and must survive the roundtrip, so the oracle "
    "filters IS DISTINCT FROM, not != (which would three-valued-drop "
    "null-typed rows; pinned by the null-injected parity sweep, r8).",
    tags=("reference", "cdc", "json"),
)
def _debezium_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    envelopes = build_envelopes(events)
    decoded = decode_envelope(envelopes, "value", _EVENT_AFTER_SCHEMA)
    return decoded.select(
        "id",
        "user_id",
        "event_type",
        F.date_format(micros_to_timestamp("ts_us"), "yyyy-MM-dd HH:mm:ss").alias(
            "event_ts"
        ),
        F.round("value", 2).alias("value"),
        "op",
    )


@register(
    "streaming_upsert_snapshot",
    """
    WITH ordered AS (
        SELECT user_id, event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               event_type, value,
               CASE WHEN event_type = 'signup' THEN 'c'
                    WHEN event_type = 'error' THEN 'd'
                    ELSE 'u' END AS op,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, ts_s, event_type, value
    FROM ordered WHERE rn = 1 AND op != 'd'
    """,
    doc="CDC upsert-sink parity (T8's sink side): events become a mutable "
    "keyed changelog (signup=create, error=delete, rest=update; "
    "event_id is the offset/LSN), range-split into event_id-ordered "
    "files and streamed ONE FILE PER MICRO-BATCH through "
    "start_upsert_sink, whose foreachBatch applies full c/u/d op "
    "semantics to the parquet snapshot per batch. The oracle computes "
    "the global latest-per-key state directly, so a hash match proves "
    "the incremental MERGE fold converges to the true changelog state "
    "across real micro-batch boundaries — per-key order is what the "
    "fold needs, and the ordered range split models a keyed topic's "
    "per-partition ordering guarantee.",
    tags=("cdc", "streaming", "events"),
)
def _streaming_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from full_data_infrastructure_spark.cache import hold_dir
    from full_data_infrastructure_spark.streaming.replay import replay_stream
    from full_data_infrastructure_spark.streaming.sinks import start_upsert_sink

    events = load_table(spark, sf_dir, "events")
    changes = events.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
        "value",
        F.when(F.col("event_type") == "signup", F.lit("c"))
        .when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
        .alias("op"),
    )
    # Range-split by the offset column with mtimes stamped in part order
    # (replay.py): micro-batches replay the changelog in event_id order,
    # the per-key ordering a keyed topic partition guarantees.
    work, stream = replay_stream(
        spark, changes, "event_id", prefix="upsert_snapshot_"
    )
    q = start_upsert_sink(
        stream,
        snapshot_path=os.path.join(work, "snapshot"),
        checkpoint_path=os.path.join(work, "checkpoint"),
        key="user_id",
        order_col="event_id",
        available_now=True,
    )
    q.awaitTermination()
    return hold_dir(work, spark.read.parquet(os.path.join(work, "snapshot")).select(
        "user_id", "ts_s", "event_type", "value"
    ))


@register(
    "streaming_upsert_bucketed_snapshot",
    """
    WITH ordered AS (
        SELECT user_id, event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               event_type, value,
               CASE WHEN event_type = 'signup' THEN 'c'
                    WHEN event_type = 'error' THEN 'd'
                    ELSE 'u' END AS op,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events
    )
    SELECT user_id, ts_s, event_type, value
    FROM ordered WHERE rn = 1 AND op != 'd'
    """,
    doc="The BUCKETED upsert sink under a key-sparse workload — the actual "
    "100 TB path. Same changelog and the "
    "same latest-per-key oracle as streaming_upsert_snapshot (final state "
    "is batching-invariant given per-key order), but the replay is "
    "BUCKET-GROUPED: the file split orders by crc32(user_id) mod 16 first, "
    "event_id second, so each micro-batch's keys concentrate in ~2 of 16 "
    "buckets — the nightly-CDC shape where a key-sparse batch against a "
    "huge dimension reads and swaps touched/n_buckets of the table "
    "instead of all of it. Per-key ordering survives the regrouping: a "
    "key's changes share one bucket, and within a bucket the range split "
    "is event_id-ordered.",
    tags=("cdc", "streaming", "events"),
)
def _streaming_upsert_bucketed_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from full_data_infrastructure_spark.cache import hold_dir
    from full_data_infrastructure_spark.streaming.replay import replay_stream
    from full_data_infrastructure_spark.streaming.sinks import (
        _key_bucket,
        read_bucketed_snapshot,
        start_upsert_sink,
    )

    n_buckets = 16
    events = load_table(spark, sf_dir, "events")
    changes = events.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
        "value",
        F.when(F.col("event_type") == "signup", F.lit("c"))
        .when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
        .alias("op"),
        # Bucket-major replay offset: all of a bucket's changes replay
        # together (event_id-ordered within), so each micro-batch touches
        # ~2 of the sink's 16 snapshot buckets.  2^40 clears any event_id.
        (
            _key_bucket("user_id", n_buckets).cast("bigint")
            * F.lit(1 << 40).cast("bigint")
            + F.col("event_id")
        ).alias("replay_offset"),
    )
    work, stream = replay_stream(
        spark, changes, "replay_offset", prefix="upsert_bucketed_"
    )
    q = start_upsert_sink(
        stream.drop("replay_offset"),
        snapshot_path=os.path.join(work, "snapshot"),
        checkpoint_path=os.path.join(work, "checkpoint"),
        key="user_id",
        order_col="event_id",
        available_now=True,
        n_buckets=n_buckets,
    )
    q.awaitTermination()
    # An all-empty replay never creates a bucket directory; read the
    # snapshot total-on-empty with the data schema the sink stores
    # (the changelog minus the op flag and the order column).
    snap_schema = changes.drop("op", "event_id", "replay_offset").schema
    return hold_dir(work, read_bucketed_snapshot(
        spark, os.path.join(work, "snapshot"), snap_schema
    ).select("user_id", "ts_s", "event_type", "value"))
