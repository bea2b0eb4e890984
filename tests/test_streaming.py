"""Streaming slice tests — CDC ingest end-to-end on file sources (no Kafka
in CI, per SURVEY.md §7 step 5), exactly-once restart semantics, the
notification sink, watermarked windows, stateful dedup, and the metrics
listener. Windowed-aggregate results are cross-checked against their batch
twins on the same data.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from full_data_infrastructure_spark.functions.debezium import (
    _EVENT_AFTER_SCHEMA,
    build_envelopes,
)
from full_data_infrastructure_spark.sources.parquet import load_table
from full_data_infrastructure_spark.streaming.cdc import (
    decode_cdc_stream,
    file_cdc_source,
    reconcile_counts,
    start_cdc_ingest,
)
from full_data_infrastructure_spark.streaming.monitor import MetricsListener
from full_data_infrastructure_spark.streaming.sinks import start_notification_sink
from full_data_infrastructure_spark.streaming.windows import (
    dedup_stream,
    session_counts,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def topic_dir(spark, sf_dir, tmp_path_factory):
    """Materialize the Debezium 'topic' as JSON-lines files."""
    path = str(tmp_path_factory.mktemp("topic"))
    events = load_table(spark, sf_dir, "events")
    build_envelopes(events).write.mode("overwrite").json(path)
    return path


def test_cdc_file_stream_end_to_end(spark, sf_dir, topic_dir, tmp_path):
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    raw = file_cdc_source(spark, topic_dir)
    decoded = decode_cdc_stream(raw, _EVENT_AFTER_SCHEMA)
    q = start_cdc_ingest(decoded, sink, ckpt, available_now=True)
    q.awaitTermination(120)

    events = load_table(spark, sf_dir, "events")
    expected = events.filter(F.col("event_type") != "error").count()  # tombstones dropped
    rec = reconcile_counts(spark, sink, expected)
    assert rec["match"], rec

    out = spark.read.parquet(sink)
    assert set(out.columns) == {
        "id", "user_id", "event_type", "ts_us", "value", "op", "ts_ms",
    }
    # op semantics: purchases are inserts, the rest snapshot reads
    ops = {r["op"] for r in out.select("op").distinct().collect()}
    assert ops == {"c", "r"}


def test_cdc_restart_is_exactly_once(spark, sf_dir, topic_dir, tmp_path):
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    raw = file_cdc_source(spark, topic_dir)
    decoded = decode_cdc_stream(raw, _EVENT_AFTER_SCHEMA)

    q1 = start_cdc_ingest(decoded, sink, ckpt, available_now=True)
    q1.awaitTermination(120)
    n1 = spark.read.parquet(sink).count()

    # restart against the same checkpoint, no new data => no duplicates
    q2 = start_cdc_ingest(decoded, sink, ckpt, available_now=True)
    q2.awaitTermination(120)
    n2 = spark.read.parquet(sink).count()
    assert n1 == n2


def test_latest_changes_same_ts_delete_beats_create(spark):
    """Debezium ts_ms is millisecond-grained, so a create+delete pair for
    one key can share a timestamp; the lifecycle tiebreak must let the
    delete win — lexicographic op order ('c' < 'd') would resurrect the
    deleted row through both the parquet and Delta MERGE paths."""
    from full_data_infrastructure_spark.streaming.cdc import (
        apply_cdc_batch,
        latest_changes,
    )

    changes = spark.createDataFrame(
        [
            (7, "x", "c", 100),
            (7, None, "d", 100),   # same ms as the create: delete wins
            (8, "a", "c", 100),
            (8, "b", "u", 100),    # same ms: update beats create
            (9, "old", "u", 50),
            (9, "new", "u", 60),   # later ts wins regardless of op
        ],
        "id bigint, v string, op string, ts_ms bigint",
    )
    latest = {r["id"]: r["op"] for r in latest_changes(changes, "id").collect()}
    assert latest == {7: "d", 8: "u", 9: "u"}

    snapshot = spark.createDataFrame([(9, "stale")], ["id", "v"])
    applied = {
        r["id"]: r["v"] for r in apply_cdc_batch(snapshot, changes, "id").collect()
    }
    assert applied == {8: "b", 9: "new"}  # 7 deleted, never resurrected


def test_cdc_delete_stream_through_upsert_sink(spark, sf_dir, topic_dir, tmp_path):
    """Full c/r/u/d composition: the envelope stream (where 'error' events
    are Debezium deletes carrying their image in `before`) decoded with
    keep_ops=('c','r','u','d') and applied by the upsert sink must leave a
    snapshot with upserts present and NO deleted keys."""
    from full_data_infrastructure_spark.streaming.sinks import start_upsert_sink

    snapshot = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt_crud")

    raw = file_cdc_source(spark, topic_dir)
    decoded = decode_cdc_stream(
        raw, _EVENT_AFTER_SCHEMA, keep_ops=("c", "r", "u", "d")
    )
    q = start_upsert_sink(decoded, snapshot, ckpt, key="id", available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(snapshot)
    events = load_table(spark, sf_dir, "events")
    want_ids = {
        r["event_id"]
        for r in events.filter(F.col("event_type") != "error").collect()
    }
    deleted_ids = {
        r["event_id"]
        for r in events.filter(F.col("event_type") == "error").collect()
    }
    got_ids = {r["id"] for r in got.select("id").collect()}
    assert got_ids == want_ids - deleted_ids
    assert not (got_ids & deleted_ids)


def test_notification_sink_filters_and_delivers(spark, sf_dir, topic_dir, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    raw = file_cdc_source(spark, topic_dir)
    decoded = decode_cdc_stream(raw, _EVENT_AFTER_SCHEMA).withColumn(
        # P9: only some rows carry a comment (the reference's ~29% rate)
        "comment",
        F.when(F.col("value") > 90, F.format_string("high value %.0f", "value")),
    )
    received: list[dict] = []
    q = start_notification_sink(
        decoded,
        received.append,
        ckpt,
        available_now=True,
        on_executors=False,  # collector closes over driver state
    )
    q.awaitTermination(120)

    events = load_table(spark, sf_dir, "events")
    expected = events.filter(
        (F.col("event_type") != "error") & (F.col("value") > 90)
    ).count()
    assert len(received) == expected
    assert all(r["comment"].startswith("high value") for r in received)


def test_notification_sink_delivers_from_executors(spark, sf_dir, topic_dir, tmp_path):
    """Default delivery runs foreachPartition on the executors — the
    driver never collects the batch. The notifier is pickled to workers,
    so it records deliveries through the filesystem (one file per row),
    not through driver memory."""
    import uuid as _uuid

    ckpt = str(tmp_path / "ckpt_exec")
    outbox = tmp_path / "outbox"
    outbox.mkdir()
    outbox_path = str(outbox)

    def file_notify(payload: dict) -> None:
        fname = f"{payload['id']}_{_uuid.uuid4().hex[:8]}.txt"
        with open(f"{outbox_path}/{fname}", "w") as fh:
            fh.write(payload["comment"])

    raw = file_cdc_source(spark, topic_dir)
    decoded = decode_cdc_stream(raw, _EVENT_AFTER_SCHEMA).withColumn(
        "comment",
        F.when(F.col("value") > 90, F.format_string("high value %.0f", "value")),
    )
    q = start_notification_sink(
        decoded, file_notify, ckpt, available_now=True
    )
    q.awaitTermination(120)

    events = load_table(spark, sf_dir, "events")
    expected = events.filter(
        (F.col("event_type") != "error") & (F.col("value") > 90)
    ).count()
    delivered = list(outbox.iterdir())
    assert len(delivered) == expected
    assert all(p.read_text().startswith("high value") for p in delivered[:10])


def test_tumbling_counts_match_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    stream_dir = str(tmp_path / "events_json")
    events.select(
        F.col("event_id"), F.col("ts").cast("string").alias("ts"), "event_type"
    ).write.mode("overwrite").json(stream_dir)

    stream = (
        spark.readStream.schema("event_id bigint, ts string, event_type string")
        .json(stream_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = tumbling_counts(stream, watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    want = {
        (r["win"]["start"], r["event_type"]): r["n"]
        for r in events.groupBy(
            F.window("ts", "1 hour").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """Pins the late-data DROP boundary the windowed operators document
    ("late data beyond the watermark is dropped") but no parity query can
    show — the replay corpora are time-ordered precisely so nothing is
    ever late. Spark applies the LATE filter with one micro-batch of lag
    behind the eviction watermark (the two-watermark design: rows are
    judged against the PREVIOUS batch's watermark — verified empirically
    when this test was built: late rows one batch after the advancer
    were still admitted), so the late rows ride two batches behind it:
    batch 0 ends at 13:00, advancing the 1-hour-delay watermark to
    12:00; batch 1 is an on-time spacer that commits it for late
    filtering; batch 2 then delivers two late rows (10:20, and 11:30
    whose window END equals the watermark — the closed-boundary case)
    plus an on-time 12:30 row. The late rows must vanish from the final
    counts; the on-time rows and every earlier window must survive
    exactly."""
    import datetime
    import os
    import shutil

    def dt(h, m):
        return datetime.datetime(2024, 1, 1, h, m)

    batches = [
        [(1, dt(10, 0), "a"), (2, dt(10, 5), "a"), (3, dt(13, 0), "a")],
        [(9, dt(13, 30), "a")],  # spacer: commits wm 12:00 for late filter
        [
            (4, dt(10, 20), "a"),  # late: watermark is 12:00
            (5, dt(11, 30), "a"),  # late: window [11,12) end == watermark
            (6, dt(12, 30), "a"),  # on time: window [12,13) still open
        ],
        [(8, datetime.datetime(2024, 1, 2, 0, 0), "__sentinel__")],
    ]
    schema = "event_id bigint, ts timestamp, event_type string"
    src = tmp_path / "src"
    os.makedirs(src)
    for i, rows in enumerate(batches):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.startswith("part-"))
        dst = str(src / f"part-{i:05d}.parquet")
        shutil.copyfile(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    counts = tumbling_counts(stream, watermark="1 hour")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        counts.writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(120)
    got = {
        str(r.window_start): r.n
        for r in spark.read.parquet(out)
        .filter(~F.col("event_type").eqNullSafe("__sentinel__"))
        .collect()
    }
    assert got == {
        "2024-01-01 10:00:00": 2,  # late event 4 did NOT bump this
        # no 11:00 window at all: event 5's window was already closed
        "2024-01-01 12:00:00": 1,  # on-time event 6 landed
        "2024-01-01 13:00:00": 2,  # 13:00 original + 13:30 spacer
    }, f"late-data boundary drifted: {got}"


def test_stream_dedup_drops_duplicates(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").limit(200)
    stream_dir = str(tmp_path / "dup_json")
    doubled = events.union(events).select(
        "event_id", F.col("ts").cast("string").alias("ts"), "event_type"
    )
    doubled.write.mode("overwrite").json(stream_dir)

    stream = (
        spark.readStream.schema("event_id bigint, ts string, event_type string")
        .json(stream_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start(sink)
    )
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 200


def test_session_counts_runs_and_bounds(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    stream_dir = str(tmp_path / "sess_json")
    events.select(
        "event_id", F.col("ts").cast("string").alias("ts"), "user_id"
    ).write.mode("overwrite").json(stream_dir)
    stream = (
        spark.readStream.schema("event_id bigint, ts string, user_id bigint")
        .json(stream_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = session_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("session_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM session_test").collect()
    assert len(rows) > 0
    assert sum(r["n"] for r in rows) == events.count()
    assert all(r["session_end"] > r["session_start"] for r in rows)


def test_metrics_listener_captures_progress(spark, sf_dir, topic_dir, tmp_path):
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        raw = file_cdc_source(spark, topic_dir)
        decoded = decode_cdc_stream(raw, _EVENT_AFTER_SCHEMA)
        q = start_cdc_ingest(
            decoded, str(tmp_path / "sink"), str(tmp_path / "ckpt"), available_now=True
        )
        q.awaitTermination(120)
        # listener callbacks are async; wait for at least one progress event
        import time

        for _ in range(50):
            if listener.stats.batches > 0:
                break
            time.sleep(0.2)
        assert listener.stats.batches > 0
        assert listener.stats.total_rows > 0
        assert listener.stats.summary()["mean_rows_per_batch"] > 0
    finally:
        spark.streams.removeListener(listener)


def test_running_user_totals_match_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState running counters: one availableNow pass must
    equal the batch groupBy twin."""
    from full_data_infrastructure_spark.streaming.stateful import (
        running_user_totals,
    )

    events = load_table(spark, sf_dir, "events")
    stream_dir = str(tmp_path / "state_json")
    events.select(
        "user_id", F.col("ts").cast("string").alias("ts"), "value"
    ).write.mode("overwrite").json(stream_dir)
    stream = (
        spark.readStream.schema("user_id bigint, ts string, value double")
        .json(stream_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("running_totals_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.sql(
            "SELECT * FROM running_totals_test"
        ).collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    # memory sink in update mode may hold several versions per key; the
    # last state per key must match the batch totals
    assert got == want


def test_inactivity_sessions_close_on_timeout(spark, sf_dir, tmp_path):
    """Processing-time-timeout sessions: a key silent across a restart (with
    elapsed wall time > timeout) is emitted as a closed session."""
    import time

    from full_data_infrastructure_spark.streaming.stateful import (
        inactivity_sessions,
    )

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    stream_dir = str(tmp_path / "sess_state_json")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    first = events.filter(F.col("user_id") < 3).select(
        "user_id", F.col("ts").cast("string").alias("ts"), "value"
    )
    first.coalesce(1).write.mode("overwrite").json(stream_dir)

    def run_once():
        stream = (
            spark.readStream.schema("user_id bigint, ts string, value double")
            .json(stream_dir)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        q = (
            inactivity_sessions(stream, timeout_ms=1000)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # availableNow + processing-time timeouts keeps scheduling
        # timeout-check batches and does not self-terminate promptly
        # (both runs used to burn a full 120 s await — the suite's single
        # slowest test at 4 minutes). The data batches are committed once
        # progress has a completed trigger and the source reports no
        # files remaining; poll for that and stop explicitly — the
        # checkpoint makes any in-flight batch replay-safe.
        for _ in range(600):  # up to 60 s — generous for one tiny file
            if q.awaitTermination(0.1):
                return  # self-terminated after all
            if any(
                p.get("numInputRows", 0) > 0 for p in (q.recentProgress or [])
            ):
                break
        q.stop()
        q.awaitTermination(60)

    run_once()  # ingest users 0-2; sessions stay open (no output yet)
    time.sleep(1.5)  # exceed the processing-time timeout
    # new data for OTHER users triggers a batch; expired keys fire
    events.filter((F.col("user_id") >= 3)).select(
        "user_id", F.col("ts").cast("string").alias("ts"), "value"
    ).coalesce(1).write.mode("append").json(stream_dir)
    run_once()

    closed = spark.read.parquet(sink)
    closed_users = {r["user_id"] for r in closed.select("user_id").collect()}
    assert {0, 1, 2} <= closed_users
    want = {
        r["user_id"]: r["n"]
        for r in events.filter(F.col("user_id") < 3)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {
        r["user_id"]: r["n_events"]
        for r in closed.filter(F.col("user_id") < 3).collect()
    }
    assert got == want


def test_apply_cdc_batch_upserts_and_deletes(spark):
    """Full op semantics the reference drops: u replaces, d removes,
    latest-per-key wins within a batch."""
    from full_data_infrastructure_spark.streaming.cdc import apply_cdc_batch

    snapshot = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id bigint, name string, value double",
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 21.0, "u", 100),   # update key 2
            (3, None, None, "d", 100),   # delete key 3
            (4, "d", 40.0, "c", 100),    # insert key 4
            (4, "d2", 41.0, "u", 200),   # then update it — later ts wins
        ],
        "id bigint, name string, value double, op string, ts_ms bigint",
    )
    out = apply_cdc_batch(snapshot, changes, key="id")
    got = {r["id"]: (r["name"], r["value"]) for r in out.collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 4: ("d2", 41.0)}


def test_upsert_sink_end_to_end(spark, tmp_path):
    """foreachBatch CDC upsert sink: inserts, then updates+deletes in a
    second batch, applied to the parquet snapshot with full op semantics."""
    import json as _json

    from full_data_infrastructure_spark.streaming.sinks import start_upsert_sink

    stream_dir = tmp_path / "changes"
    stream_dir.mkdir()
    snapshot = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema("id bigint, v bigint, op string, ts_ms bigint")
            .option("maxFilesPerTrigger", "1")
            .json(str(stream_dir))
        )
        q = start_upsert_sink(
            stream, snapshot, ckpt, key="id", available_now=True
        )
        q.awaitTermination(120)

    batch1 = [
        {"id": 1, "v": 10, "op": "c", "ts_ms": 100},
        {"id": 2, "v": 20, "op": "c", "ts_ms": 100},
        {"id": 3, "v": 30, "op": "c", "ts_ms": 100},
    ]
    (stream_dir / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in batch1)
    )
    run_once()
    got1 = {r["id"]: r["v"] for r in spark.read.parquet(snapshot).collect()}
    assert got1 == {1: 10, 2: 20, 3: 30}

    batch2 = [
        {"id": 2, "v": 21, "op": "u", "ts_ms": 200},
        {"id": 3, "v": None, "op": "d", "ts_ms": 200},
        {"id": 4, "v": 40, "op": "c", "ts_ms": 200},
    ]
    (stream_dir / "b2.json").write_text(
        "\n".join(_json.dumps(r) for r in batch2)
    )
    run_once()
    got2 = {r["id"]: r["v"] for r in spark.read.parquet(snapshot).collect()}
    assert got2 == {1: 10, 2: 21, 4: 40}


def test_upsert_sink_delta_merge(spark, tmp_path):
    """With delta-spark installed, the upsert sink runs one transactional
    DeltaTable.merge per batch (matched delete / matched update / unmatched
    insert) instead of the parquet directory swap. The session must also
    carry the Delta SQL extension (session.py wires it when available)."""
    import json as _json

    pytest.importorskip(
        "delta",
        reason=(
            "delta-spark cannot be exercised in this environment, settled "
            "in round 5: the package is absent, `pip install delta-spark` "
            "finds no distribution (no index access in the container), and "
            "even a vendored wheel would not suffice — the JVM-side "
            "delta-spark jars need spark.jars.packages network resolution. "
            "The code under test is written against the public DeltaTable "
            "API and this test runs it wherever the package exists; the "
            "parquet upsert path carries the oracle-checked e2e coverage "
            "(streaming_upsert_snapshot) plus the batch-boundary-invariance "
            "property test meanwhile."
        ),
    )

    from full_data_infrastructure_spark.streaming.sinks import start_upsert_sink

    stream_dir = tmp_path / "changes"
    stream_dir.mkdir()
    snapshot = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema("id bigint, v bigint, op string, ts_ms bigint")
            .option("maxFilesPerTrigger", "1")
            .json(str(stream_dir))
        )
        q = start_upsert_sink(
            stream, snapshot, ckpt, key="id", fmt="delta", available_now=True
        )
        q.awaitTermination(120)

    (stream_dir / "b1.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"id": 1, "v": 10, "op": "c", "ts_ms": 100},
                {"id": 2, "v": 20, "op": "c", "ts_ms": 100},
            ]
        )
    )
    run_once()
    (stream_dir / "b2.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"id": 1, "v": None, "op": "d", "ts_ms": 200},
                {"id": 2, "v": 21, "op": "u", "ts_ms": 200},
                {"id": 3, "v": 30, "op": "c", "ts_ms": 200},
            ]
        )
    )
    run_once()
    got = {
        r["id"]: r["v"] for r in spark.read.format("delta").load(snapshot).collect()
    }
    assert got == {2: 21, 3: 30}


def test_sliding_counts_match_batch(spark, sf_dir, tmp_path):
    from full_data_infrastructure_spark.streaming.windows import sliding_counts

    events = load_table(spark, sf_dir, "events")
    stream_dir = str(tmp_path / "slide_json")
    events.select(
        "event_id", F.col("ts").cast("string").alias("ts"), "event_type"
    ).write.mode("overwrite").json(stream_dir)
    stream = (
        spark.readStream.schema("event_id bigint, ts string, event_type string")
        .json(stream_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = sliding_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM sliding_test").collect()
    }
    want = {
        (r["win"]["start"], r["event_type"]): r["n"]
        for r in events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    # every event lands in exactly 2 overlapping panes
    assert sum(got.values()) == 2 * events.count()


def test_decode_envelope_tolerates_schema_drift(spark):
    """SURVEY.md §1.2: the reference streams `distance` as Double while
    Postgres declares INT — the decoder must widen int JSON values into
    double fields (and tolerate missing fields as NULL)."""
    from pyspark.sql import types as T

    from full_data_infrastructure_spark.functions.debezium import decode_envelope

    after = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("distance", T.DoubleType()),  # drifted: JSON has int
            T.StructField("comment", T.StringType()),   # sometimes missing
        ]
    )
    rows = [
        ('{"payload":{"after":{"id":1,"distance":42,"comment":"ok"},"op":"c","ts_ms":1}}',),
        ('{"payload":{"after":{"id":2,"distance":7.5},"op":"u","ts_ms":2}}',),
        ('{"payload":{"after":null,"op":"d","ts_ms":3}}',),  # tombstone
        ("not json at all",),  # malformed
    ]
    raw = spark.createDataFrame(rows, "value string")
    out = decode_envelope(raw, "value", after).collect()
    got = {r["id"]: (r["distance"], r["comment"], r["op"]) for r in out}
    assert got == {1: (42.0, "ok", "c"), 2: (7.5, None, "u")}


def test_decode_envelope_delete_path_reaches_apply_cdc(spark):
    """Debezium deletes carry their row image in ``before`` (after=null).
    With keep_ops including 'd' the decoder must surface them — keyed from
    the before image — so apply_cdc_batch can actually remove rows; the
    documented full c/r/u/d upsert sink is otherwise a silent no-op for
    deletes."""
    from pyspark.sql import types as T

    from full_data_infrastructure_spark.functions.debezium import decode_envelope
    from full_data_infrastructure_spark.streaming.cdc import apply_cdc_batch

    after = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    rows = [
        ('{"payload":{"after":{"id":1,"name":"new"},"op":"c","ts_ms":10}}',),
        ('{"payload":{"before":{"id":2,"name":"old"},"after":null,"op":"d","ts_ms":11}}',),
        ('{"payload":{"before":null,"after":null,"op":"d","ts_ms":12}}',),  # keyless
        ("garbage",),
    ]
    raw = spark.createDataFrame(rows, "value string")

    # Default keep_ops still drops deletes explicitly.
    assert {r["op"] for r in decode_envelope(raw, "value", after).collect()} == {"c"}

    decoded = decode_envelope(raw, "value", after, keep_ops=("c", "r", "u", "d"))
    got = {r["id"]: r["op"] for r in decoded.collect()}
    assert got == {1: "c", 2: "d"}  # delete keyed from `before`; keyless dropped

    snapshot = spark.createDataFrame([(2, "old"), (3, "keep")], ["id", "name"])
    applied = apply_cdc_batch(snapshot, decoded, key="id")
    assert {(r["id"], r["name"]) for r in applied.collect()} == {
        (1, "new"),
        (3, "keep"),
    }


def test_rollup_sink_matches_batch_twin(spark, tmp_path):
    """Streaming continuous aggregate: two micro-batches of events folded
    into stored hourly partials must equal one batch rollup over all rows
    — including a late row that lands in an already-written bucket."""
    import json as _json

    from full_data_infrastructure_spark.operators.rollup import rollup_partials
    from full_data_infrastructure_spark.streaming.sinks import (
        PARTIAL_SUM_TYPE,
        start_rollup_sink,
    )

    stream_dir = tmp_path / "events_in"
    stream_dir.mkdir()
    partials = str(tmp_path / "partials")
    ckpt = str(tmp_path / "ckpt")

    batch1 = [
        {"event_id": 1, "ts": "2024-01-01 10:05:00", "event_type": "click", "value": 1.5},
        {"event_id": 2, "ts": "2024-01-01 10:40:00", "event_type": "click", "value": 2.5},
        {"event_id": 3, "ts": "2024-01-01 11:10:00", "event_type": "view", "value": 4.0},
    ]
    # batch 2 includes a LATE row for the 10:00 bucket
    batch2 = [
        {"event_id": 4, "ts": "2024-01-01 11:30:00", "event_type": "view", "value": 6.0},
        {"event_id": 5, "ts": "2024-01-01 10:59:00", "event_type": "click", "value": 10.0},
    ]
    (stream_dir / "b1.json").write_text("\n".join(_json.dumps(r) for r in batch1))
    (stream_dir / "b2.json").write_text("\n".join(_json.dumps(r) for r in batch2))

    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(stream_dir))
    )
    q = start_rollup_sink(stream, partials, ckpt, available_now=True)
    q.awaitTermination(120)

    from pyspark.sql import functions as F

    all_rows = spark.createDataFrame(
        [tuple(r.values()) for r in batch1 + batch2],
        "event_id bigint, ts string, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    expected = rollup_partials(all_rows).withColumn(
        "sum_value", F.col("sum_value").cast(PARTIAL_SUM_TYPE)
    )
    got = spark.read.parquet(partials)
    key = lambda r: (r["bucket"], r["event_type"])  # noqa: E731
    g = {key(r): (r["n_events"], r["sum_value"], r["min_value"], r["max_value"]) for r in got.collect()}
    e = {key(r): (r["n_events"], r["sum_value"], r["min_value"], r["max_value"]) for r in expected.collect()}
    assert g == e
    assert len(g) == 2  # (10h, click) and (11h, view), late row folded in

    # replay fencing: wipe the checkpoint so the SAME files re-deliver with
    # the same batch ids; the high-water mark must turn both folds into
    # no-ops (additive merges would otherwise double every count)
    import shutil

    shutil.rmtree(ckpt)
    q2 = start_rollup_sink(stream, partials, ckpt, available_now=True)
    q2.awaitTermination(120)
    replayed = {
        key(r): (r["n_events"], r["sum_value"], r["min_value"], r["max_value"])
        for r in spark.read.parquet(partials).collect()
    }
    assert replayed == e


def test_rate_source_streams_rows_end_to_end(spark, tmp_path):
    """S2 is more than a builder: the rate stream must actually produce
    monotonically numbered rows through a real micro-batch into a sink."""
    from full_data_infrastructure_spark.streaming.cdc import rate_test_source

    stream = rate_test_source(spark, rows_per_second=50)
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT COUNT(*) AS n FROM rate_smoke").collect()[0]["n"]
            if n >= 10:
                break
            time.sleep(1)
        assert n >= 10, f"rate source produced only {n} rows"
        vals = [
            r["value"]
            for r in spark.sql("SELECT value FROM rate_smoke ORDER BY value").collect()
        ]
        assert vals == list(range(len(vals)))  # contiguous, monotone
    finally:
        q.stop()


def test_session_window_gap_boundary_merges_at_exactly_gap(spark):
    """Pin the gap-boundary semantics streaming_sessionize_snapshot's
    oracle relies on: session_window MERGES two events exactly gap apart
    and splits only when the delta EXCEEDS the gap — the same `delta >
    gap => new session` rule as sessionize_batch's LAG form, so both
    share one oracle shape. (Empirically pinned because the synthetic
    events carry no exact-boundary deltas, so the parity hash alone
    cannot distinguish > from >=.)"""
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, 1),
        (1, t0 + datetime.timedelta(minutes=30), 2),  # == gap: merges
        (2, t0, 3),
        (2, t0 + datetime.timedelta(minutes=30, microseconds=1), 4),  # > gap
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_id bigint"
    )
    out = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    per_user: dict[int, list[int]] = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["n"])
    assert per_user[1] == [2], per_user
    assert sorted(per_user[2]) == [1, 1], per_user


@pytest.mark.parametrize(
    "n_files,arrow_batch",
    [
        (4, None),  # multi-batch: state carried across micro-batches
        # Single batch + tiny Arrow batches: each user's rows reach the
        # state function as MULTIPLE unordered chunks — the fold must
        # concat-and-sort once, not sort each chunk (the silent
        # out-of-order-fold bug this round's review caught).
        (1, 16),
    ],
)
def test_running_user_ema_matches_batch_fold(
    spark, sf_dir, tmp_path, n_files, arrow_batch
):
    """End-to-end escape-hatch proof on the real fixture: events replayed
    as a time-ordered file stream through the applyInPandasWithState EMA
    accumulator must end at BIT-EXACTLY the per-user EMA ema_by_user's
    batch fold computes — including NULL poisoning (users with a null
    value end at NULL on both paths). The pure-fold cut invariance is
    property-tested in test_properties.py; this drives the actual
    state-store plumbing, in both the cross-batch and the
    multi-chunk-per-key regime."""
    import math
    import uuid as _uuid

    from full_data_infrastructure_spark.operators.windows import ema_fold
    from full_data_infrastructure_spark.streaming.replay import (
        ordered_file_split,
    )
    from full_data_infrastructure_spark.streaming.stateful import (
        running_user_ema,
    )

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    src = str(tmp_path / "ema_src")
    if arrow_batch is None:
        ordered_file_split(events, "ts", n_files, src)
    else:
        # Deterministically scrambled SINGLE file via coalesce(1):
        # ordered_file_split's repartitionByRange plans a local sort, so
        # its files are ts-ordered and per-chunk folding would
        # accidentally match — the variant must feed genuinely unordered
        # chunks (mutation-checked: the old per-chunk sort folds 15/15
        # users wrong on this input). A single file has no cross-file
        # ordering contract, so scrambled order is legitimate replay
        # input; the accumulator's concat-and-sort owns within-batch
        # order.
        events.orderBy(F.hash("event_id")).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev_arrow = spark.conf.get(conf_key)
    if arrow_batch is not None:
        spark.conf.set(conf_key, str(arrow_batch))
    table = f"ema_stream_{_uuid.uuid4().hex[:8]}"
    try:
        q = (
            running_user_ema(stream)
            .writeStream.format("memory")
            .queryName(table)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ema_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set(conf_key, prev_arrow)

    # Update mode emits a row per (batch, key); the final state per user
    # is the emission with the highest n_events (monotonic per key).
    final: dict[int, tuple[int, float]] = {}
    for r in spark.sql(f"SELECT * FROM {table}").collect():
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["ema_value"])
    want = {
        r["user_id"]: (r["n_events"], r["ema_value"])
        for r in ema_fold(events).collect()
    }
    assert set(final) == set(want)
    mismatches = []
    for u, (wn, wv) in want.items():
        gn, gv = final[u]
        if gn != wn:
            mismatches.append((u, "n", gn, wn))
        elif wv is None:
            if gv is not None and not math.isnan(gv):
                mismatches.append((u, "null", gv, wv))
        elif gv != wv:  # bit-exact, no tolerance
            mismatches.append((u, "ema", gv, wv))
    assert not mismatches, mismatches[:5]


def test_streaming_rollup_snapshot_handles_bigint_ts(spark, sf_dir, tmp_path):
    """Regression for the r4 advice finding: the rollup parity stream read
    the parquet footer schema raw, so a TIMESTAMP(NANOS)-stored-as-bigint
    ts — a storage variant the driver HAS produced across rounds — would
    reach date_trunc as bigint and fail analysis at stream time. The
    stream now applies the same normalize_event_ts repair as load_table;
    replaying a bigint-ts variant must yield exactly the batch partials
    computed on the same data."""
    import os

    from full_data_infrastructure_spark.operators.rollup import rollup_partials
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    events = load_table(spark, sf_dir, "events").limit(2000)
    vdir = str(tmp_path / "bigint_variant")
    events.withColumn("ts", F.unix_micros("ts") * 1000).write.parquet(
        os.path.join(vdir, "events.parquet")
    )

    got = {
        (r["bucket"], r["event_type"]): (
            r["n_events"],
            r["sum_value"],
            r["min_value"],
            r["max_value"],
        )
        for r in REGISTRY["streaming_rollup_snapshot"].build(spark, vdir).collect()
    }
    batch = rollup_partials(load_table(spark, vdir, "events"))
    want = {
        (r["bucket"], r["event_type"]): (
            r["n_events"],
            r["sum_value"],
            r["min_value"],
            r["max_value"],
        )
        for r in batch.select(
            F.date_format("bucket", "yyyy-MM-dd HH:00:00").alias("bucket"),
            "event_type",
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
            "min_value",
            "max_value",
        ).collect()
    }
    assert got == want


def test_rollup_sink_honors_legacy_fence_location(spark, tmp_path):
    """Upgrade-path regression for the batch-id fence: deployments created
    before the fence moved inside the table directory left it at
    '<path>_applied_batch'. A checkpoint wipe re-delivers the same files
    with the same batch ids; with the marker ONLY at the legacy location
    the folds must still no-op (additive merges would otherwise double
    every count). A final control run with BOTH markers removed shows the
    scenario is real: counts double."""
    import json as _json
    import os
    import shutil

    from full_data_infrastructure_spark.streaming.sinks import start_rollup_sink

    stream_dir = tmp_path / "events_in"
    stream_dir.mkdir()
    partials = str(tmp_path / "partials")
    rows = [
        {"event_id": 1, "ts": "2024-01-01 10:05:00", "event_type": "click", "value": 1.5},
        {"event_id": 2, "ts": "2024-01-01 10:40:00", "event_type": "click", "value": 2.5},
    ]
    (stream_dir / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp, event_type string, value double"
    ).json(str(stream_dir))

    def run(ckpt_name):
        q = start_rollup_sink(
            stream, partials, str(tmp_path / ckpt_name), available_now=True
        )
        q.awaitTermination(120)
        return {
            (r["bucket"], r["event_type"]): r["n_events"]
            for r in spark.read.parquet(partials).collect()
        }

    first = run("ckpt1")
    assert sum(first.values()) == 2

    # Simulate the pre-migration layout: fence beside the table, not inside.
    in_table = os.path.join(partials, "_applied_batch")
    legacy = f"{partials}_applied_batch"
    os.rename(in_table, legacy)
    assert run("ckpt2") == first  # legacy fence honored: no double-apply

    # Control: with no fence anywhere the same replay DOES double-apply,
    # proving the assertions above discriminate.
    os.remove(legacy)
    doubled = run("ckpt3")
    assert sum(doubled.values()) == 4
    shutil.rmtree(partials)


def test_interval_join_cross_batch_and_null_emission(spark):
    """The stream-stream funnel join's three outcomes, pinned on crafted
    events split across TWO micro-batch files: a purchase that arrives a
    batch after its click still pairs (join state spans batches), a
    purchase outside the 1-hour horizon does not pair, and a click with
    no purchase gets its left-outer NULL row once the sentinel-advanced
    watermark passes its horizon."""
    import datetime

    from full_data_infrastructure_spark.streaming.replay import (
        replay_stream,
        run_stream_to_parquet,
    )
    from full_data_infrastructure_spark.streaming.windows import (
        interval_join_clicks_purchases,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def at(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        (1, at(0), "click"),
        (2, at(1), "click"),
        (3, at(2), "click"),
        (1, at(30), "purchase"),   # in horizon, later batch
        (2, at(120), "purchase"),  # outside 1h horizon
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_type string")
    import os

    work, stream_a = replay_stream(
        spark,
        df,
        "ts",
        n_files=2,
        prefix="funnel_unit_",
        sentinel_fn=lambda mx: (
            -1,
            mx + datetime.timedelta(days=1),
            "__sentinel__",
        ),
        sentinel_copies=3,
    )
    from full_data_infrastructure_spark.streaming.replay import (
        symlink_table_files,
    )

    src_b = os.path.join(work, "src_b")
    symlink_table_files(os.path.join(work, "src"), src_b)
    stream_b = (
        spark.readStream.schema(stream_a.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_b)
    )
    out = run_stream_to_parquet(
        interval_join_clicks_purchases(stream_a, stream_b), work, "pairs"
    )
    got = {
        (r["user_id"], r["p_ts"])
        for r in spark.read.parquet(out).filter(F.col("user_id") >= 0).collect()
    }
    assert got == {(1, at(30)), (2, None), (3, None)}


def test_stream_static_dim_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static enrichment (the join-matrix cell the stream-stream
    funnel doesn't cover): events streamed through a broadcast join with
    a static per-user dimension produce exactly the batch join's rows —
    stateless per batch, so no watermark or sentinel machinery is
    involved."""
    import os

    from full_data_infrastructure_spark.streaming.replay import (
        replay_stream,
        run_stream_to_parquet,
    )
    from full_data_infrastructure_spark.streaming.windows import (
        enrich_stream_with_dim,
    )

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    ).limit(500)
    # Deterministic dimension derived from the events' own keys; missing
    # rows exercise the left-outer null path.
    dim = (
        events.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 3 != 0)
        .select("user_id", (F.col("user_id") * 100).alias("segment"))
    )
    work, stream = replay_stream(
        spark, events, "event_id", n_files=4, prefix="dimjoin_"
    )
    out = run_stream_to_parquet(
        enrich_stream_with_dim(stream, dim, key="user_id"), work, "enriched"
    )
    got = {
        (r["event_id"], r["segment"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["event_id"], r["segment"])
        for r in events.join(dim, "user_id", "left").collect()
    }
    assert got == want and len(got) == 500


def test_scd2_sink_fold_is_idempotent(spark):
    """At-least-once redelivery: folding the SAME batch twice must equal
    folding it once — replayed change rows compress away as no-op
    transitions next to their own version rows."""
    from full_data_infrastructure_spark.operators.windows import (
        scd2_apply_batch,
        scd2_finalize,
        scd2_versions,
    )

    schema = "user_id bigint, event_type string, ts bigint, event_id bigint"
    old = [(1, "a", 1, 1), (1, "b", 2, 2), (2, "a", 2, 3)]
    new = [(1, "a", 3, 4), (2, "a", 4, 5), (3, "c", 5, 6)]
    standing = scd2_versions(spark.createDataFrame(old, schema))
    batch = spark.createDataFrame(new, schema)
    once = scd2_apply_batch(standing, batch)
    ver_schema = "user_id bigint, state string, valid_from bigint, event_id bigint"
    materialized = spark.createDataFrame(
        [tuple(r) for r in once.collect()], ver_schema
    )
    twice = scd2_apply_batch(materialized, batch)
    assert sorted(map(tuple, scd2_finalize(twice).collect())) == sorted(
        map(tuple, scd2_finalize(once).collect())
    )


def test_upsert_sink_bucketed_rewrites_and_delete_empties_bucket(spark, tmp_path):
    """The upsert sink's n_buckets variant: a batch touching two keys must
    rewrite only those keys' bucket directories (others byte-identical),
    and a delete that removes a bucket's ONLY key must remove the bucket
    directory — while the final snapshot still matches full c/u/d
    semantics."""
    import os
    from zlib import crc32

    from full_data_infrastructure_spark.streaming.sinks import start_upsert_sink

    schema = "op string, ts_ms bigint, id bigint, value double"
    first = [("c", 10 + k, k, float(k)) for k in range(1, 17)]
    # key 1 updated; key 7 is its bucket's only occupant (crc32 layout
    # for n_buckets=8) and gets deleted -> bucket dir must vanish.
    second = [("u", 100, 1, 111.0), ("d", 101, 7, 7.0)]
    assert crc32(b"7") % 8 not in {crc32(str(k).encode()) % 8 for k in range(1, 17) if k != 7}
    src = str(tmp_path / "src")
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(first, schema).coalesce(1).write.parquet(
        src, mode="append"
    )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_upsert_sink(
            stream, snap, ckpt, key="id", available_now=True, n_buckets=8
        )
        q.awaitTermination(120)

    def listing():
        out = {}
        for root, _, files in os.walk(snap):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[os.path.relpath(p, snap)] = (st.st_size, st.st_mtime_ns)
        return out

    run()
    before = listing()
    spark.createDataFrame(second, schema).coalesce(1).write.parquet(
        src, mode="append"
    )
    run()
    after = listing()

    upd_bucket = f"bucket={crc32(b'1') % 8}"
    del_bucket = f"bucket={crc32(b'7') % 8}"
    for path, meta in before.items():
        top = path.split(os.sep)[0]
        if top not in (upd_bucket, del_bucket):
            assert after.get(path) == meta, f"untouched bucket rewritten: {path}"
    assert not any(p.startswith(del_bucket) for p in after), (
        "deleting a bucket's only key must remove its directory"
    )
    rows = {
        r["id"]: r["value"]
        for r in spark.read.parquet(snap).drop("bucket").collect()
    }
    assert rows == {**{k: float(k) for k in range(2, 17) if k != 7}, 1: 111.0}


def test_upsert_sink_bucketed_survives_deleting_every_key(spark, tmp_path):
    """A batch that deletes EVERY remaining key removes all bucket=
    directories but leaves the snapshot root behind as an empty dir; the
    next batch must treat that as an empty table instead of crashing on
    schema inference (ADVICE r7 — sinks._bucketed_snapshot_nonempty)."""
    import os

    from full_data_infrastructure_spark.streaming.sinks import start_upsert_sink

    schema = "op string, ts_ms bigint, id bigint, value double"
    batches = [
        [("c", 10, 1, 1.0), ("c", 11, 2, 2.0)],
        [("d", 20, 1, 1.0), ("d", 21, 2, 2.0)],  # empties the whole table
        [("c", 30, 3, 3.0)],  # must read the bucketless dir as empty
    ]
    src = str(tmp_path / "src")
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_upsert_sink(
            stream, snap, ckpt, key="id", available_now=True, n_buckets=8
        )
        q.awaitTermination(120)

    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            src, mode="append"
        )
        run()
        if i == 1:
            assert os.path.isdir(snap) and not any(
                e.startswith("bucket=") for e in os.listdir(snap)
            ), "delete-all batch should leave a bucketless snapshot root"
    final = {
        r["id"]: r["value"]
        for r in spark.read.parquet(snap).drop("bucket").collect()
    }
    assert final == {3: 3.0}


def test_scd2_sink_bucketed_rewrites_only_touched_buckets(spark, tmp_path):
    """The n_buckets variant bounds the sink's write amplification
    (VERDICT r6 item 8): a batch touching one user must rewrite ONLY that
    user's key-hash bucket directory — every other bucket's files stay
    byte-identical (same names, sizes, mtimes) — and the accumulated
    table must still equal the full-history compression."""
    import os

    from full_data_infrastructure_spark.operators.windows import (
        scd2_finalize,
        scd2_versions,
    )
    from full_data_infrastructure_spark.streaming.sinks import start_scd2_sink

    schema = "user_id bigint, event_type string, ts bigint, event_id bigint"
    first = [(u, "a" if u % 2 else "b", 10 + u, u) for u in range(1, 17)]
    second = [(1, "z", 100, 100)]  # touches exactly one user
    src = str(tmp_path / "src")
    versions = str(tmp_path / "versions")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(first, schema).coalesce(1).write.parquet(
        src, mode="append"
    )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_scd2_sink(
            stream, versions, ckpt, available_now=True, n_buckets=8
        )
        q.awaitTermination(120)

    def listing():
        out = {}
        for root, _, files in os.walk(versions):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[os.path.relpath(p, versions)] = (st.st_size, st.st_mtime_ns)
        return out

    run()
    before = listing()
    bucket_dirs = {p.split(os.sep)[0] for p in before}
    assert len(bucket_dirs) > 1, "16 users must spread over several buckets"

    spark.createDataFrame(second, schema).coalesce(1).write.parquet(
        src, mode="append"
    )
    run()
    after = listing()

    from zlib import crc32

    touched = f"bucket={crc32(b'1') % 8}"
    assert touched in bucket_dirs
    for path, meta in before.items():
        if not path.startswith(touched):
            assert after.get(path) == meta, f"untouched bucket rewritten: {path}"
    assert any(
        path.startswith(touched) and before.get(path) != meta
        for path, meta in after.items()
    ), "the touched bucket was not rewritten"

    # The accumulated table still equals the single-shot compression.
    events = spark.createDataFrame(first + second, schema)
    want = sorted(map(tuple, scd2_finalize(scd2_versions(events)).collect()))
    got = sorted(
        map(
            tuple,
            scd2_finalize(
                spark.read.parquet(versions).drop("bucket")
            ).collect(),
        )
    )
    assert got == want


@pytest.mark.parametrize("n_buckets", [None, 8], ids=["swap", "bucketed"])
def test_scd2_sink_restart_is_exactly_once(spark, sf_dir, tmp_path, n_buckets):
    """Restarting the SCD2 sink against its checkpoint with no new data
    must leave the version table bit-identical (checkpointed offsets +
    the idempotent fold = effectively-once), and a restart that re-runs
    replayed batches must still converge to the full-history compression
    — for BOTH write layouts: the whole-table snapshot swap and the
    round-7 bucketed partition swap (whose restart semantics add the
    per-bucket rename path to the contract)."""
    import os

    from full_data_infrastructure_spark.operators.windows import (
        scd2_finalize,
        scd2_versions,
    )
    from full_data_infrastructure_spark.sources.parquet import load_table
    from full_data_infrastructure_spark.streaming.replay import replay_stream
    from full_data_infrastructure_spark.streaming.sinks import start_scd2_sink

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    work, stream = replay_stream(
        spark, events, "ts", prefix="scd2_restart_", n_files=4
    )
    versions = os.path.join(work, "versions")
    ckpt = os.path.join(work, "checkpoint")
    q1 = start_scd2_sink(
        stream, versions, ckpt, available_now=True, n_buckets=n_buckets
    )
    q1.awaitTermination(120)

    def read_versions():
        df = spark.read.parquet(versions)
        return df.drop("bucket") if n_buckets else df

    first = sorted(map(tuple, read_versions().collect()))

    # restart: same checkpoint, no new files => nothing re-folds
    q2 = start_scd2_sink(
        stream, versions, ckpt, available_now=True, n_buckets=n_buckets
    )
    q2.awaitTermination(120)
    second = sorted(map(tuple, read_versions().collect()))
    assert first == second

    # and the accumulated table equals the single-shot compression
    want = sorted(
        map(tuple, scd2_finalize(scd2_versions(events)).collect())
    )
    got = sorted(
        map(tuple, scd2_finalize(read_versions()).collect())
    )
    assert got == want


class _ActionPlans:
    """A JVM ``QueryExecutionListener`` (through the py4j callback server)
    that keeps the executed plan of every successful action."""

    def __init__(self) -> None:
        self.plans: list[str] = []

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        self.plans.append(qe.executedPlan().toString())

    def onFailure(self, func_name, qe, exception) -> None:
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _run_two_batches(spark, tmp_path, start, schema, first, second):
    """Fold ``first`` then ``second`` through ``start(stream)`` as two
    availableNow runs; returns the executed plans of the actions the
    second run issued."""
    from pyspark.java_gateway import ensure_callback_server_started

    src = str(tmp_path / "src")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        start(stream).awaitTermination(120)

    spark.createDataFrame(first, schema).coalesce(1).write.parquet(src, mode="append")
    run()
    spark.createDataFrame(second, schema).coalesce(1).write.parquet(src, mode="append")
    ensure_callback_server_started(spark.sparkContext._gateway)
    bus = spark.sparkContext._jsc.sc().listenerBus()
    # Deliver the events of every earlier action first, or a late one
    # could reach the probe.
    bus.waitUntilEmpty()
    probe = _ActionPlans()
    manager = spark._jsparkSession.listenerManager()
    manager.register(probe)
    try:
        run()
        bus.waitUntilEmpty()
    finally:
        manager.unregister(probe)
    return probe.plans


def test_bucketed_snapshot_read_prunes_partitions(spark, tmp_path):
    """The per-batch write a bucketed upsert sink and a bucketed SCD2 sink
    actually execute must read only the touched bucket directories of
    the standing table — the read half of the per-batch IO bound (the
    write half is asserted by the rewrite tests above) — and broadcast
    the batch's touched key set into the standing-side anti/semi joins,
    so the standing table is scanned, never shuffled.  Every stored row
    sits in bucket crc32(str(key)) % n_buckets."""
    import re
    from zlib import crc32

    from full_data_infrastructure_spark.streaming.sinks import (
        start_scd2_sink,
        start_upsert_sink,
    )

    # name -> (sink start, schema, first batch, second batch, key,
    #          standing-side joins, rows stored after both batches)
    cases = {
        "upsert": (
            lambda stream, snap, ckpt: start_upsert_sink(
                stream, snap, ckpt, key="id", available_now=True, n_buckets=8
            ),
            "op string, ts_ms bigint, id bigint, value double",
            [("c", k, k, float(k)) for k in range(1, 65)],
            [("u", 100, 1, -1.0), ("u", 101, 2, -2.0)],
            "id",
            ("LeftAnti",),
            64,
        ),
        "scd2": (
            lambda stream, snap, ckpt: start_scd2_sink(
                stream, snap, ckpt, available_now=True, n_buckets=8
            ),
            "user_id bigint, event_type string, ts bigint, event_id bigint",
            [(u, "a", u, u) for u in range(1, 65)],
            [(1, "b", 100, 100), (2, "b", 101, 101)],
            "user_id",
            ("LeftAnti", "LeftSemi"),
            66,
        ),
    }
    for name, (start, schema, first, second, key, joins, n_rows) in cases.items():
        snap, ckpt = str(tmp_path / name / "snapshot"), str(tmp_path / name / "ckpt")
        plans = _run_two_batches(
            spark,
            tmp_path / name,
            lambda stream: start(stream, snap, ckpt),
            schema,
            first,
            second,
        )
        writes = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
        assert len(writes) == 1, (name, plans)
        plan = writes[0]
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "bucket" in m.group(1), f"{name}: no bucket partition filter:\n{plan}"
        for kind in joins:
            assert re.search(
                rf"BroadcastHashJoin \[[^\]]*\], \[[^\]]*\], {kind}, BuildRight", plan
            ), f"{name}: {kind} not broadcast:\n{plan}"
        stored = spark.read.parquet(snap).collect()
        assert len(stored) == n_rows, name
        for r in stored:
            assert r["bucket"] == crc32(str(r[key]).encode()) % 8, (name, r)


def test_bucketed_upsert_sink_quotes_identifiers_and_paths(spark, tmp_path):
    """Column names and paths are spliced into the fold's SQL text: a key
    column holding a backtick and braces, and a struct value column whose
    nested field name holds a backtick and a space, folded into a
    snapshot whose path holds a quote, must fold exactly like any other
    key."""
    from full_data_infrastructure_spark.sqltext import ident
    from full_data_infrastructure_spark.streaming.sinks import start_upsert_sink

    key, nested = "k`{0}", "a b`"
    snap = str(tmp_path / "it's snapshot")
    plans = _run_two_batches(
        spark,
        tmp_path,
        lambda stream: start_upsert_sink(
            stream, snap, str(tmp_path / "ckpt"), key=key,
            available_now=True, n_buckets=4,
        ),
        f"op string, ts_ms bigint, {ident(key)} bigint, value double, "
        f"s struct<{ident(nested)}: int>",
        [("c", k, k, float(k), (k,)) for k in range(1, 9)],
        [("u", 100, 1, -1.0, (-1,)), ("d", 101, 2, 0.0, (0,)), ("c", 102, 9, 9.0, (9,))],
    )
    assert plans
    got = {
        r[key]: (r["value"], r["s"][nested])
        for r in spark.read.parquet(snap).collect()
    }
    assert got == {1: (-1.0, -1), **{k: (float(k), k) for k in range(3, 10)}}


def test_bucket_grouped_replay_batches_are_key_sparse(spark, sf_dir, tmp_path):
    """A bucket-major replay offset makes the bucketed sinks' workload
    KEY-SPARSE: each micro-batch (one part file) touches only a few of
    the sink's 16 snapshot buckets, so a fold rewrites a few buckets, not
    the whole table. Recreate the bucketed upsert replay's split and pin
    per-file bucket sparsity plus the per-key ordering the fold needs."""
    import os

    from full_data_infrastructure_spark.streaming.replay import (
        ordered_file_split,
    )
    from full_data_infrastructure_spark.streaming.sinks import _key_bucket

    n_buckets, n_files = 16, 8
    events = load_table(spark, sf_dir, "events")
    changes = events.select(
        "user_id",
        "event_id",
        (
            _key_bucket("user_id", n_buckets).cast("bigint")
            * F.lit(1 << 40).cast("bigint")
            + F.col("event_id")
        ).alias("replay_offset"),
    )
    dest = str(tmp_path / "split")
    ordered_file_split(changes, "replay_offset", n_files, dest)
    parts = sorted(f for f in os.listdir(dest) if f.startswith("part-"))
    assert len(parts) == n_files
    seen_keys: set[int] = set()
    max_touched = 0
    for fname in parts:
        pdf = spark.read.parquet(os.path.join(dest, fname))
        buckets = {
            r["b"]
            for r in pdf.select(
                (F.col("replay_offset") / F.lit(1 << 40))
                .cast("bigint")
                .alias("b")
            )
            .distinct()
            .collect()
        }
        assert buckets, fname
        max_touched = max(max_touched, len(buckets))
        # per-key integrity: a key's changes never straddle files out of
        # order — since offsets are bucket-major and files are range-split
        # on offset, any key seen in an earlier file cannot reappear here
        # with a LOWER offset range; it suffices that files partition the
        # offset space (range split guarantees it) and each key maps to
        # one bucket (crc32 is a function), so just check no key's bucket
        # varies.
        per_key = (
            pdf.groupBy("user_id")
            .agg(
                F.count_distinct(
                    (F.col("replay_offset") / F.lit(1 << 40)).cast("bigint")
                ).alias("nb")
            )
            .agg(F.max("nb"))
            .first()[0]
        )
        assert per_key == 1
        seen_keys |= {r["user_id"] for r in pdf.select("user_id").distinct().collect()}
    # the sparsity that makes the bench number mean something: a batch
    # touches at most ~2-3 of 16 buckets (range boundaries may straddle),
    # far below the all-16 a time-ordered replay hits.
    assert max_touched <= 4, max_touched
    assert len(seen_keys) > 0


def test_read_bucketed_snapshot_non_empty_uses_declared_schema(spark, tmp_path):
    """read_bucketed_snapshot's schema-stability contract must hold on the
    NON-empty branch too (ADVICE r9): the read passes the declared data
    schema instead of inferring from parquet footers, so stored files that
    drifted from the declared types (here: value written as INT, declared
    BIGINT) still come back exactly as declared — byte-identical to what
    the empty branch returns — and downstream plans never fork on table
    emptiness."""
    import os

    from pyspark.sql import types as T

    from full_data_infrastructure_spark.streaming.sinks import (
        _key_bucket,
        read_bucketed_snapshot,
    )

    snap = str(tmp_path / "snapshot")
    rows = spark.range(1, 17).select(
        F.col("id"), (F.col("id") * 2).cast("int").alias("value")
    )
    rows.withColumn("bucket", _key_bucket("id", 4)).write.partitionBy(
        "bucket"
    ).parquet(snap)

    declared = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("value", T.LongType())]
    )
    nonempty = read_bucketed_snapshot(spark, snap, declared)
    empty = read_bucketed_snapshot(spark, str(tmp_path / "absent"), declared)
    assert nonempty.schema == empty.schema, (
        nonempty.schema.simpleString(),
        empty.schema.simpleString(),
    )
    # the drifted INT files surface as the declared BIGINT, values intact
    assert dict(nonempty.dtypes)["value"] == "bigint"
    assert sorted(r["value"] for r in nonempty.collect()) == [
        2 * i for i in range(1, 17)
    ]
    assert "bucket" not in nonempty.columns
    assert os.path.isdir(snap)


def test_bucket_major_offset_survives_wide_ts_span(spark, tmp_path):
    """The bucketed SCD2 replay stays key-sparse only under bucket-MAJOR
    replay ordering: bucket b's offset band [b*M, b*M + span) must not
    overlap bucket b+1's, which requires the multiplier M to exceed the
    corpus's unix_micros SPAN.  An M = 2^44 µs is only ~204 days, so
    any corpus spanning more — the ~75-year epoch-boundary sweep
    included — silently interleaves the bands and the replay degrades
    to near time-major.
    Pin the fixed M = 2^54 µs (~571 years) on a 75-year pre/post-epoch
    corpus: bands must separate, per-file bucket contact must stay
    sparse, and the OLD multiplier must demonstrably fail the same
    corpus (the tripwire is real, not vacuous)."""
    import os

    from full_data_infrastructure_spark.streaming.replay import ordered_file_split
    from full_data_infrastructure_spark.streaming.sinks import _key_bucket

    n_buckets, n_files = 16, 8
    # 4k users, timestamps uniform over 1950-01-01 .. 2025-01-01 (~75 y,
    # crossing the epoch: unix_micros is negative for the first ~27%).
    lo_us, hi_us = -631_152_000_000_000, 1_735_689_600_000_000
    step = (hi_us - lo_us) // 4096
    corpus = spark.range(0, 4096).select(
        (F.col("id") % 512).alias("user_id"),
        F.timestamp_micros(
            (F.lit(lo_us) + F.col("id") * F.lit(step)).cast("bigint")
        ).alias("ts"),
    )

    def offsets(mult: int):
        return corpus.select(
            _key_bucket("user_id", n_buckets).cast("bigint").alias("b"),
            (
                _key_bucket("user_id", n_buckets).cast("bigint")
                * F.lit(mult).cast("bigint")
                + F.unix_micros("ts")
            ).alias("replay_offset"),
        )

    def bands(mult: int) -> list[tuple[int, int, int]]:
        return sorted(
            (r["b"], r["lo"], r["hi"])
            for r in offsets(mult)
            .groupBy("b")
            .agg(F.min("replay_offset").alias("lo"), F.max("replay_offset").alias("hi"))
            .collect()
        )

    good = bands(1 << 54)
    assert len(good) == n_buckets
    for (b0, _, hi0), (b1, lo1, _) in zip(good, good[1:]):
        assert hi0 < lo1, f"bucket bands overlap with 2^54: {b0}..{b1}"

    # The old multiplier interleaves on this span — at least one adjacent
    # pair of bands must overlap, or this test pins nothing.
    bad = bands(1 << 44)
    assert any(hi0 >= lo1 for (_, _, hi0), (_, lo1, _) in zip(bad, bad[1:])), (
        "2^44 unexpectedly separates a 75-year corpus"
    )

    # End-to-end: the range split stays bucket-sparse per file.
    df = corpus.select(
        "user_id",
        (
            _key_bucket("user_id", n_buckets).cast("bigint")
            * F.lit(1 << 54).cast("bigint")
            + F.unix_micros("ts")
        ).alias("replay_offset"),
    )
    dest = str(tmp_path / "split")
    ordered_file_split(df, "replay_offset", n_files, dest)
    parts = sorted(f for f in os.listdir(dest) if f.startswith("part-"))
    assert len(parts) == n_files
    max_touched = 0
    for fname in parts:
        pdf = spark.read.parquet(os.path.join(dest, fname))
        # integral div, not float division: offsets reach ~2.7e17, past
        # double's 2^53 exact-integer range, so float division could
        # misround a band-edge offset into the neighbouring bucket.
        nb = (
            pdf.select(
                F.expr(f"replay_offset div {1 << 54}").alias("b")
            )
            .distinct()
            .count()
        )
        max_touched = max(max_touched, nb)
    assert max_touched <= 4, max_touched
