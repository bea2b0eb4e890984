"""Streaming sinks beyond the main CDC parquet/Delta append — SURVEY.md
§2.1 S12 (the Kafka-consumer -> Slack webhook notifier) as ``foreachBatch``.

The reference runs a second, independent consumer group polling the topic,
filtering for activities with comments, and POSTing to Slack with
auto-commit (at-least-once) — ``slack_notifier/slack_notification.py:25-33,
97-126``. Here that's a ``foreachBatch`` sink over the same decoded stream:

* the notifier callable is pluggable (tests collect; production POSTs);
* at-least-once semantics are inherent to foreachBatch side effects — the
  batch may replay after a failure, so the notifier must be idempotent (the
  reference has the same caveat via Kafka auto-commit, documented nowhere);
* P9/P10: only rows with a non-null comment/required fields notify
  (slack_notification.py:51-59,121-124).

The snapshot fold sinks (CDC upsert, SCD2, rollup) are the reference's
per-batch Delta ``MERGE`` (SaveDelta.scala:157-163) re-expressed over
parquet directories. Each fold is defined once, as the SQL statement
builder next to its batch operator; :func:`_start_fold_sink` is the one
per-batch skeleton that runs it.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from full_data_infrastructure_spark.sqltext import ident, literal, run_over_views

Notifier = Callable[[dict], None]


def start_writer(
    writer: DataStreamWriter,
    available_now: bool,
    trigger_seconds: int | None,
    path: str | None = None,
) -> StreamingQuery:
    """Start ``writer`` with the trigger every sink here offers:
    ``availableNow`` (drain what is there, then stop), else a
    processing-time trigger every ``trigger_seconds``, else Spark's
    default back-to-back micro-batches."""
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start() if path is None else writer.start(path)


def format_notification(row: dict) -> str:
    """The Slack message shape (slack_notification.py:63-72)."""
    return (
        f"New activity: {row.get('event_type', 'activity')} "
        f"by user {row.get('user_id', '?')} — {row.get('comment', '')}"
    )


def start_notification_sink(
    decoded: DataFrame,
    notify: Notifier,
    checkpoint_path: str,
    available_now: bool = False,
    trigger_seconds: int | None = None,
    on_executors: bool = True,
) -> StreamingQuery:
    """S12: deliver every row with a non-null ``comment``.

    Default delivery is ``foreachPartition`` on the EXECUTORS: the notifier
    is shipped to the workers (it must be picklable and hold no
    driver-only state) and rows never transit the driver — at any scale
    the driver stays out of the data path and webhook POSTs parallelize
    per partition. ``on_executors=False`` falls back to a driver-side
    collect for notifiers that close over driver state (test collectors,
    driver-held connections); that is only safe because the filtered
    notification stream is tiny by construction (the reference's ~29%
    comment rate) — never use it on the raw stream."""
    filtered = decoded.filter(F.col("comment").isNotNull())

    def deliver(batch_df: DataFrame, batch_id: int) -> None:
        if on_executors:
            def send(rows) -> None:
                for row in rows:
                    notify(row.asDict())

            batch_df.foreachPartition(send)
        else:
            for row in batch_df.collect():
                notify(row.asDict())

    writer = filtered.writeStream.foreachBatch(deliver).option(
        "checkpointLocation", checkpoint_path
    )
    return start_writer(writer, available_now, trigger_seconds)


def key_bucket_sql(key: str, n_buckets: int) -> str:
    """Deterministic key-hash bucket of column ``key`` for
    directory-partitioned snapshot tables: crc32-of-string, not hash() —
    stable across Spark versions, so a standing table keeps its layout
    through engine upgrades."""
    return f"CAST(PMOD(CRC32(CAST({ident(key)} AS STRING)), {int(n_buckets)}) AS INT)"


def _key_bucket(key: str, n_buckets: int) -> Column:
    """:func:`key_bucket_sql` as a Column, for DataFrame callers."""
    return F.expr(key_bucket_sql(key, n_buckets))


def _bucketed_snapshot_nonempty(path: str) -> bool:
    """True iff ``path`` holds at least one ``bucket=`` partition directory.

    A batch that deletes every remaining key removes all bucket=
    directories but leaves ``path`` itself behind as an empty directory
    (:func:`_swap_touched_buckets` removes buckets, never the table root).
    Reading that with ``spark.read.load`` fails schema inference, so the
    bucketed sinks treat an existing-but-bucketless snapshot dir as an
    empty table.
    """
    if not os.path.isdir(path):
        return False
    return any(entry.startswith("bucket=") for entry in os.listdir(path))


def _schema_plus_bucket(schema) -> T.StructType:
    """The declared scan schema for a bucket-partitioned snapshot: the
    data schema plus the ``bucket`` partition-directory column.  One
    definition shared by every standing read so the consumer-side and
    fold-side paths cannot drift on the partition column's type."""
    return T.StructType(
        list(schema.fields) + [T.StructField("bucket", T.IntegerType())]
    )


def _standing_view_sql(view: str, schema: T.StructType, path: str) -> str:
    """CREATE OR REPLACE TEMPORARY VIEW over the standing snapshot with the
    DECLARED schema.  Re-issued every batch so the file listing is fresh
    (the snapshot directory is swapped between batches).  The declared
    schema, never parquet-footer inference, keeps every batch's standing
    types identical to the types fixed at sink start: inference could
    fork them mid-stream if stored files ever drift, and a mid-stream
    upstream type change then fails loudly in the fold's UNION instead
    of silently re-typing old rows.  ``toDDL`` quotes every field name,
    nested struct fields included."""
    return (
        f"CREATE OR REPLACE TEMPORARY VIEW {view} ({schema.toDDL()}) "
        f"USING parquet OPTIONS (path {literal(path)})"
    )


def read_bucketed_snapshot(spark, path: str, schema) -> DataFrame:
    """Consumer-side read of a bucketed snapshot table that is TOTAL on
    the empty cases a live pipeline produces: a stream that has not yet
    received a non-empty batch never creates any ``bucket=`` directory
    (``_swap_touched_buckets`` swaps only touched buckets), and a batch
    that deletes every key removes them all — either way the table root
    holds no parquet footers and a bare ``spark.read`` dies on schema
    inference.  ``schema`` is the DATA schema (without the ``bucket``
    partition column); an empty or absent table reads as an empty
    DataFrame of exactly that schema, and the non-empty path reads with
    the same declared schema instead of inferring from parquet footers,
    so the two branches can never return differently typed frames."""
    if not _bucketed_snapshot_nonempty(path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(_schema_plus_bucket(schema)).parquet(path).drop("bucket")


def _swap_table(out: DataFrame, path: str, batch_id: int | None) -> None:
    """Write ``out`` to a temp dir and rename it over ``path`` — overwriting
    a path that is also being read corrupts the read, and readers never
    see a half-written table.  With ``batch_id``, the replay fence is
    written into the temp dir BEFORE the rename, so data and fence commit
    in the same rename (a fence written after it could lag a crash
    between the two and double-apply the batch)."""
    tmp = f"{path.rstrip('/')}_swap_{uuid.uuid4().hex[:8]}"
    out.write.mode("overwrite").parquet(tmp)
    if batch_id is not None:
        with open(os.path.join(tmp, _FENCE), "w") as fh:
            fh.write(str(batch_id))
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(tmp, path)


def _swap_touched_buckets(out: DataFrame, path: str, touched) -> None:
    """Write ``out`` (carrying a ``bucket`` column) partitioned by bucket
    to a temp dir, then swap ONLY the ``touched`` bucket directories into
    ``path`` — per-batch write IO becomes touched/n_buckets of the table
    instead of a full rewrite.  A touched bucket absent from ``out``
    (every key deleted) is removed.  Atomicity is per-bucket, not
    per-table: a reader can briefly see bucket k new while bucket j is
    still old (the standard contract for partitioned warehouse tables
    without a transaction log)."""
    tmp = f"{path.rstrip('/')}_swap_{uuid.uuid4().hex[:8]}"
    out.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    os.makedirs(path, exist_ok=True)
    for b in touched:
        src = os.path.join(tmp, f"bucket={b}")
        dst = os.path.join(path, f"bucket={b}")
        if os.path.exists(dst):
            shutil.rmtree(dst)
        if os.path.exists(src):
            os.rename(src, dst)
    shutil.rmtree(tmp, ignore_errors=True)


# Replay fence of the rollup sink: the highest applied batch id, stored
# inside the table directory (Spark ignores ``_``-prefixed files).
_FENCE = "_applied_batch"


def _already_applied(path: str, batch_id: int) -> bool:
    """True iff the fence at ``path`` covers ``batch_id``.  Tables created
    before the fence moved inside the table directory keep it at
    ``<path>_applied_batch``; it is honoured so an upgrade cannot re-enable
    the double apply the fence prevents."""
    for marker in (os.path.join(path, _FENCE), f"{path.rstrip('/')}{_FENCE}"):
        if os.path.exists(marker):
            with open(marker) as fh:
                return batch_id <= int(fh.read().strip())
    return False


# Stands for the touched-bucket predicate in a bucketed fold statement;
# replaced per batch (never ``str.format``: identifiers may hold braces).
_TOUCHED = "__fdi_touched_buckets__"


def _start_fold_sink(
    stream: DataFrame,
    path: str,
    checkpoint_path: str,
    fold_sql: Callable[[str | None, str], str],
    schema: T.StructType,
    available_now: bool,
    trigger_seconds: int | None,
    bucket_key: str | None = None,
    n_buckets: int | None = None,
    fenced: bool = False,
) -> StreamingQuery:
    """The ``foreachBatch`` skeleton every snapshot fold sink runs.

    ``fold_sql(standing, batch)`` is the fold's one statement builder
    (``standing`` is ``None`` before the table exists); ``schema`` is the
    table's declared schema, fixed at sink start.  The statements are
    built once, here.  Per batch: bind the batch view, bind the standing
    view if the table exists, run the statement, then swap the whole
    directory — or, with ``n_buckets``, only the bucket directories the
    batch touches (``crc32(bucket_key) % n_buckets``), reading only those
    from the standing table.  ``fenced`` skips batch ids the table has
    already absorbed, for folds that are not idempotent."""
    uid = uuid.uuid4().hex[:8]
    bview = f"__fdi_fold_batch_{uid}"
    sview = f"__fdi_fold_standing_{uid}"
    first_sql = fold_sql(None, bview)
    if n_buckets is None:
        apply_sql = fold_sql(sview, bview)
        standing_sql = _standing_view_sql(sview, schema, path)
    else:
        bucket = key_bucket_sql(bucket_key, n_buckets)
        touched_sql = f"SELECT DISTINCT {bucket} AS bucket FROM {bview}"
        # bucket is a partition DIRECTORY column, so the IN predicate is a
        # partition filter: untouched bucket directories are never listed.
        cols = ", ".join(ident(name) for name in schema.names)
        pruned = f"(SELECT {cols} FROM {sview} WHERE {_TOUCHED})"
        first_sql = f"SELECT *, {bucket} AS bucket FROM ({first_sql})"
        apply_sql = f"SELECT *, {bucket} AS bucket FROM ({fold_sql(pruned, bview)})"
        standing_sql = _standing_view_sql(sview, _schema_plus_bucket(schema), path)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if fenced and _already_applied(path, batch_id):
            return
        spark = batch_df.sparkSession
        batch_df.createOrReplaceTempView(bview)
        if n_buckets is None:
            exists = os.path.exists(path)
            if exists:
                spark.sql(standing_sql)
            out = spark.sql(apply_sql if exists else first_sql)
            _swap_table(out, path, batch_id if fenced else None)
            return
        # Bounded driver action: at most n_buckets distinct values.
        touched = sorted(r["bucket"] for r in spark.sql(touched_sql).collect())
        if _bucketed_snapshot_nonempty(path):
            spark.sql(standing_sql)
            where = f"bucket IN ({', '.join(map(str, touched))})" if touched else "FALSE"
            out = spark.sql(apply_sql.replace(_TOUCHED, where))
        else:
            out = spark.sql(first_sql)
        _swap_touched_buckets(out, path, touched)

    writer = stream.writeStream.foreachBatch(fold).option(
        "checkpointLocation", checkpoint_path
    )
    return start_writer(writer, available_now, trigger_seconds)


def start_upsert_sink(
    decoded: DataFrame,
    snapshot_path: str,
    checkpoint_path: str,
    key: str,
    order_col: str = "ts_ms",
    fmt: str = "parquet",
    available_now: bool = False,
    trigger_seconds: int | None = None,
    n_buckets: int | None = None,
) -> StreamingQuery:
    """CDC upsert sink: per micro-batch, apply full c/r/u/d op semantics to
    the snapshot table with the fold of :func:`~full_data_infrastructure_spark.
    streaming.cdc.apply_cdc_batch` (the Delta ``MERGE INTO`` equivalent;
    the append sink in cdc.py reproduces the reference's insert-only
    behavior, this one handles mutable sources).

    With ``fmt="delta"`` (and ``delta-spark`` importable, which requires a
    session built with the Delta SQL extension — the reference's actual
    storage layer, SaveDelta.scala:157-163) each batch is ONE transactional
    ``DeltaTable.merge``: matched deletes drop the row, matched upserts
    update it, unmatched upserts insert — no directory swap. Otherwise the
    parquet snapshot is swapped through a temp directory per batch. Either
    way the checkpoint dedups replayed batches, and the apply is
    idempotent per batch (tests/test_properties.py), so at-least-once
    replay converges.

    The default parquet path rewrites the FULL snapshot every batch; pass
    ``n_buckets`` to bound the write amplification — the snapshot is
    directory-partitioned by ``crc32(key) % n_buckets`` and each batch
    scans and swaps only the bucket partitions its keys touch (a
    key-sparse batch against a huge dimension then costs touched/n_buckets
    of the table instead of all of it), at per-bucket atomicity.
    """
    from full_data_infrastructure_spark.streaming.cdc import apply_cdc_sql, latest_changes

    if fmt == "delta":

        def merge_delta(batch_df: DataFrame, batch_id: int) -> None:
            from delta.tables import DeltaTable

            spark = batch_df.sparkSession
            latest = latest_changes(batch_df, key, order_col)
            data_cols = [c for c in latest.columns if c not in ("op", order_col)]
            if not DeltaTable.isDeltaTable(spark, snapshot_path):
                latest.filter(F.col("op") != "d").select(*data_cols).write.format(
                    "delta"
                ).mode("overwrite").save(snapshot_path)
                return
            target = DeltaTable.forPath(spark, snapshot_path)
            assigns = {c: f"s.{ident(c)}" for c in data_cols}
            (
                target.alias("t")
                .merge(latest.alias("s"), f"t.{ident(key)} = s.{ident(key)}")
                .whenMatchedDelete(condition="s.op = 'd'")
                .whenMatchedUpdate(set=assigns)
                .whenNotMatchedInsert(condition="s.op != 'd'", values=assigns)
                .execute()
            )

        writer = decoded.writeStream.foreachBatch(merge_delta).option(
            "checkpointLocation", checkpoint_path
        )
        return start_writer(writer, available_now, trigger_seconds)

    change_cols = tuple(decoded.columns)
    schema = decoded.drop("op", order_col).schema
    return _start_fold_sink(
        decoded,
        snapshot_path,
        checkpoint_path,
        lambda standing, batch: apply_cdc_sql(
            standing, batch, change_cols, schema.names, key, order_col
        ),
        schema,
        available_now,
        trigger_seconds,
        key,
        n_buckets,
    )


PARTIAL_SUM_TYPE = "decimal(30,2)"  # fixed width so stored/union schemas agree


def start_rollup_sink(
    events: DataFrame,
    partials_path: str,
    checkpoint_path: str,
    available_now: bool = False,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Streaming continuous aggregate: per micro-batch, compute the batch's
    hourly ``event_type`` partials and fold them into the stored partials table with
    the combiners of
    :func:`~full_data_infrastructure_spark.operators.rollup.merge_partials`
    — sum-of-counts, sum-of-sums, min-of-mins, max-of-maxes. Late
    rows just re-merge their bucket; no watermark state is held, because
    the stored table IS the state (bounded by bucket cardinality, not
    event count).

    Additive merges are not idempotent, so replayed micro-batches (the
    foreachBatch at-least-once caveat) are fenced with a batch-id
    high-water mark stored INSIDE the table directory and committed by
    the same rename as the data (see :func:`_swap_table`); deleting the
    table deletes the fence with it. If the checkpoint is recreated
    (batch ids restart at 0), delete the partials table too — the fence
    would otherwise skip genuinely new batches. On Delta, replace all of
    this with a transactional MERGE keyed on (bucket, event_type) and
    txnVersion.
    """
    from full_data_infrastructure_spark.operators.rollup import (
        PARTIAL_COLS,
        merge_partials_sql,
        rollup_partials_sql,
    )

    cols = ", ".join(["bucket", "`event_type`", *PARTIAL_COLS])
    # PARTIAL_SUM_TYPE fixes the stored decimal width, so a merge's wider
    # SUM type never leaks into the table.
    out_cols = ", ".join(
        ["bucket", "`event_type`", "n_events",
         f"CAST(sum_value AS {PARTIAL_SUM_TYPE}) AS sum_value",
         "min_value", "max_value"]
    )

    def fold_sql(standing: str | None, batch: str) -> str:
        partials = rollup_partials_sql(batch)
        if standing is not None:
            both = f"(SELECT {cols} FROM {standing} UNION ALL SELECT {cols} FROM ({partials}))"
            partials = merge_partials_sql(both, "hour")
        return f"SELECT {out_cols} FROM ({partials})"

    # Declared partials schema from the INCOMING STREAM's types
    # (analysis-only over an empty frame).
    schema = run_over_views(
        lambda batch: fold_sql(None, batch),
        batch=events.sparkSession.createDataFrame([], events.schema),
    ).schema
    return _start_fold_sink(
        events,
        partials_path,
        checkpoint_path,
        fold_sql,
        schema,
        available_now,
        trigger_seconds,
        fenced=True,
    )


def start_scd2_sink(
    changes: DataFrame,
    versions_path: str,
    checkpoint_path: str,
    available_now: bool = False,
    trigger_seconds: int | None = None,
    n_buckets: int | None = None,
) -> StreamingQuery:
    """SCD Type-2 warehouse sink: per micro-batch, fold the change batch
    into the standing compressed-version table with the fold of
    :func:`~full_data_infrastructure_spark.operators.windows.scd2_apply_batch`
    — the dimension-HISTORY consumer of a CDC stream, where
    :func:`start_upsert_sink` keeps only the latest row per key.

    COMPUTE per batch scales with the batch's user set (anti-join
    pass-through for untouched users), never the accumulated history —
    but the default snapshot-swap WRITE rewrites the full standing table
    every batch: a 10 TB dimension folding 1 GB batches writes 10 TB per
    trigger.  Pass ``n_buckets`` to bound it: the versions table is
    directory-partitioned by ``crc32(user_id) % n_buckets``, each batch
    reads ONLY the bucket partitions its users touch and swaps only those
    bucket directories — per-batch IO becomes
    ``touched_buckets/n_buckets`` of the table, and atomicity weakens
    from whole-table to per-bucket (a Delta/Iceberg sink would restore
    table-level snapshots).

    The fold is idempotent under batch replay: re-applied change rows
    land adjacent to their own version rows in the (ts, event_id) order
    and compress away as no-op transitions, so checkpointed at-least-once
    redelivery converges (proven at the operator level by
    tests/test_properties.py::test_scd2_fold_invariant_to_batch_boundaries
    and the idempotence unit test). Requires batches ordered by the
    change time — the per-partition ordering a keyed topic (or the
    ts-ordered replay harness) provides.
    """
    from full_data_infrastructure_spark.operators.windows import (
        scd2_apply_sql,
        scd2_versions,
    )

    # Declared version schema: what scd2_versions emits for the DECODED
    # STREAM's column types (analysis-only over an empty frame).
    schema = scd2_versions(
        changes.sparkSession.createDataFrame(
            [], changes.select("user_id", "event_type", "ts", "event_id").schema
        )
    ).schema
    return _start_fold_sink(
        changes,
        versions_path,
        checkpoint_path,
        scd2_apply_sql,
        schema,
        available_now,
        trigger_seconds,
        "user_id",
        n_buckets,
    )
