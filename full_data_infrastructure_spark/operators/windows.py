"""Window functions — SURVEY.md §2.5.

The reference uses no ``OVER (...)`` anywhere; these are the engine-surface
additions its dashboard metrics and the dedup/similarity operators need:
ranking per group, keep-latest dedup, frame-based moving aggregates, and
batch sessionization (gap-based), all with deterministic total tiebreakers.

Scale notes: a window shuffles once on its partition key, then sorts within
partitions. Skewed partition keys (one user with 10^9 events) are the risk at
100 TB — AQE skew handling does not apply inside window exchanges, so keys
here are chosen to be high-cardinality (user_id, custkey). Running frames use
bounded ROWS BETWEEN, never RANGE over unbounded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from full_data_infrastructure_spark.functions.money import money
from full_data_infrastructure_spark.queries import register
from full_data_infrastructure_spark.sources.parquet import load_table
from full_data_infrastructure_spark.sqltext import run_over_views


def keep_latest(df: DataFrame, keys: list[str], order: list) -> DataFrame:
    """Dedup-keep-latest: row_number()=1 per key over a total order."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


@register(
    "window_rank_topn",
    """
    SELECT c_mktsegment, c_custkey, ROUND(c_acctbal, 2) AS c_acctbal, rnk
    FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey) AS rnk
        FROM customer
    )
    WHERE rnk <= 3
    """,
    doc="Top-N per group via ROW_NUMBER (engine surface, §2.5): the "
    "per-BU salary leaders the dashboards imply.",
    tags=("extension", "window"),
)
def _rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return (
        customer.select(
            "c_mktsegment",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"), "rnk")
    )


@register(
    "window_dedup_latest",
    """
    SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day
    FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
    )
    WHERE rn = 1
    """,
    doc="Dedup-keep-latest per key (engine surface, §2.5) — the batch twin "
    "of streaming dropDuplicates; also the CDC last-write-wins compaction.",
    tags=("extension", "window", "dedup"),
)
def _dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    latest = keep_latest(
        orders.select("o_custkey", "o_orderkey", "o_orderdate"),
        ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )
    return latest.select(
        "o_custkey", "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day")
    )


@register(
    "window_moving_avg",
    """
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS moving_avg
    FROM events
    """,
    doc="Frame-based moving average over event time (engine surface, §2.5). "
    "Exact decimal frame-sum => deterministic regardless of the engine's "
    "window aggregation tree (functions/money.py rationale).",
    tags=("extension", "window"),
)
def _moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    mean = F.sum(money("value")).over(w).cast("double") / F.count(F.lit(1)).over(w)
    return events.select("user_id", "event_id", mean.alias("moving_avg"))


@register(
    "window_running_total",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_spend
    FROM orders
    """,
    doc="Running total per key (engine surface, §2.5).",
    tags=("extension", "window"),
)
def _running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(money("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


@register(
    "window_lag_delta",
    """
    SELECT user_id, event_id,
           ROUND(value - LAG(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id), 2) AS value_delta
    FROM events
    """,
    doc="LAG delta between consecutive events per user (engine surface, §2.5).",
    tags=("extension", "window"),
)
def _lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("value_delta"),
    )


@register(
    "sessionize_batch",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                         OR LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, event_id,
               -- CAST: DuckDB windowed SUM(int) is HUGEINT -> pandas
               -- float64, which breaks the driver's value hash vs Spark's
               -- int64 session_seq. BIGINT keeps both sides integer-typed.
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                                    AND CURRENT ROW)
                    AS BIGINT) AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    doc="Batch sessionization with a 30-minute inactivity gap (engine "
    "surface; the batch twin of streaming session windows, §2.9 note).",
    tags=("extension", "window", "session"),
)
def _sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(order_w)
    # Interval comparison (not epoch-long casts): works for both TIMESTAMP
    # and TIMESTAMP_NTZ inputs — NTZ -> BIGINT is an illegal cast in Spark 4 —
    # and mirrors the oracle SQL verbatim.
    new_session = F.when(
        prev_ts.isNull()
        | ((F.col("ts") - prev_ts) > F.expr("INTERVAL 30 MINUTES")),
        1,
    ).otherwise(0)
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = events.select(
        "user_id",
        "event_id",
        F.sum(new_session).over(run_w).alias("session_seq"),
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events")
    )


@register(
    "streaming_sessionize_snapshot",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) IS NULL
                         OR ts - LAG(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                            > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id,
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                                    AND CURRENT ROW)
                    AS BIGINT) AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    doc="Event-time session-window streaming parity (the last §2.9 "
    "extension family without an oracle-checked driver surface): events "
    "replayed as a time-ordered availableNow file stream (one file per "
    "micro-batch, replay.py) through session_window(gap=30min) with a "
    "0-second watermark delay, appended to a parquet sink, then the "
    "emitted sessions are numbered per user by start time. Sessions "
    "legitimately SPAN micro-batches — the state store merges them — so "
    "a hash match proves streaming session assembly equals the batch "
    "LAG/SUM sessionization for real micro-batch boundaries. Append "
    "mode only emits a session once the watermark passes its end, so a "
    "single sentinel event one day past the corpus max ts (user_id -1, "
    "filtered from the output; the replay twin of a live topic's "
    "heartbeat) flushes every real session out of state. Gap boundary: "
    "session_window still MERGES events exactly gap apart and splits "
    "only at delta > gap — the same semantics as sessionize_batch's LAG "
    "form, so the oracle is the same running-flag SQL; "
    "tests/test_streaming.py pins the boundary empirically.",
    tags=("extension", "window", "session", "streaming", "events"),
)
def _streaming_sessionize_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from full_data_infrastructure_spark.cache import hold_dir
    from full_data_infrastructure_spark.streaming.replay import (
        replay_stream,
        run_stream_to_parquet,
    )
    from full_data_infrastructure_spark.streaming.windows import session_counts

    # Time-range split: batch i+1 never holds a ts below batch i's max, so
    # a 0-second watermark delay drops nothing (replay.py docstring). The
    # split re-writes the already-normalized frame, so the stream's ts is
    # a proper timestamp whatever the source table stored.
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    work, stream = replay_stream(
        spark,
        events,
        "ts",
        prefix="sessionize_snapshot_",
        sentinel_fn=lambda mx: (-1, mx + datetime.timedelta(days=1), -1),
    )
    sessions = session_counts(stream, gap="30 minutes", watermark="0 seconds")
    out_path = run_stream_to_parquet(sessions, work, "sessions")
    snapshot = spark.read.parquet(out_path).filter(F.col("user_id") >= 0)
    seq_w = Window.partitionBy("user_id").orderBy("session_start")
    return hold_dir(work, snapshot.select(
        "user_id",
        F.row_number().over(seq_w).cast("bigint").alias("session_seq"),
        F.col("n").alias("n_events"),
    ))


@register(
    "streaming_tumbling_snapshot",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00')
               AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    doc="Watermarked tumbling-window streaming parity: events replayed as "
    "a time-ordered availableNow file stream through "
    "tumbling_counts(1 hour) — the state-store windowed aggregate with "
    "append-mode emission, a DIFFERENT mechanism from "
    "streaming_rollup_snapshot's foreachBatch fold over the same "
    "numbers — flushed by the far-future sentinel and hash-matched "
    "against direct GROUP BY date_trunc aggregation. Proves the "
    "watermark/append machinery emits every window exactly once with "
    "exact counts across real micro-batch boundaries (windows spanning "
    "batches merge in the state store).",
    tags=("extension", "window", "streaming", "events"),
)
def _streaming_tumbling_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from full_data_infrastructure_spark.cache import hold_dir
    from full_data_infrastructure_spark.streaming.replay import (
        replay_stream,
        run_stream_to_parquet,
    )
    from full_data_infrastructure_spark.streaming.windows import tumbling_counts

    events = load_table(spark, sf_dir, "events").select("ts", "event_type")
    work, stream = replay_stream(
        spark,
        events,
        "ts",
        prefix="tumbling_snapshot_",
        sentinel_fn=lambda mx: (
            mx + datetime.timedelta(days=1),
            "__sentinel__",
        ),
    )
    counts = tumbling_counts(stream, window="1 hour", watermark="0 seconds")
    out_path = run_stream_to_parquet(counts, work, "windows")
    # Null-safe: a NULL event_type is a real group key (a corpus with
    # missing types still has windows); a plain != would three-valued-drop
    # every NULL-keyed window along with the sentinel (null sweep, r8).
    snapshot = spark.read.parquet(out_path).filter(
        ~F.col("event_type").eqNullSafe("__sentinel__")
    )
    return hold_dir(work, snapshot.select(
        F.date_format("window_start", "yyyy-MM-dd HH:00:00").alias(
            "window_start"
        ),
        "event_type",
        F.col("n").alias("n_events"),
    ))


@register(
    "streaming_sliding_snapshot",
    """
    WITH pane AS (
        SELECT event_type, time_bucket(INTERVAL 30 MINUTE, ts) AS ws
        FROM events
        UNION ALL
        SELECT event_type,
               time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE
        FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:00') AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM pane
    GROUP BY 1, 2
    """,
    doc="Sliding-window streaming parity, completing the windowed trio "
    "(tumbling/sliding/session all driver-attested): the time-ordered "
    "events replay through sliding_counts(window=1h, slide=30min) — "
    "every event lands in EXACTLY the two 30-minute-aligned hour panes "
    "containing it, which the oracle reproduces as a two-way UNION ALL "
    "of time_bucket shifts (both engines align buckets on :00/:30 "
    "boundaries). Sentinel-flushed append emission; per-pane counts "
    "must hash-match, proving overlapping-pane assignment and "
    "cross-batch pane merging in the state store.",
    tags=("extension", "window", "streaming", "events"),
)
def _streaming_sliding_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from full_data_infrastructure_spark.cache import hold_dir
    from full_data_infrastructure_spark.streaming.replay import (
        replay_stream,
        run_stream_to_parquet,
    )
    from full_data_infrastructure_spark.streaming.windows import sliding_counts

    events = load_table(spark, sf_dir, "events").select("ts", "event_type")
    work, stream = replay_stream(
        spark,
        events,
        "ts",
        prefix="sliding_snapshot_",
        sentinel_fn=lambda mx: (
            mx + datetime.timedelta(days=1),
            "__sentinel__",
        ),
    )
    counts = sliding_counts(
        stream, window="1 hour", slide="30 minutes", watermark="0 seconds"
    )
    out_path = run_stream_to_parquet(counts, work, "windows")
    # Null-safe: a NULL event_type is a real group key (a corpus with
    # missing types still has windows); a plain != would three-valued-drop
    # every NULL-keyed window along with the sentinel (null sweep, r8).
    snapshot = spark.read.parquet(out_path).filter(
        ~F.col("event_type").eqNullSafe("__sentinel__")
    )
    return hold_dir(work, snapshot.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:00").alias(
            "window_start"
        ),
        "event_type",
        F.col("n").alias("n_events"),
    ))


@register(
    "streaming_dedup_snapshot",
    """
    SELECT event_id, user_id, event_type FROM events
    """,
    doc="Stateful streaming dedup parity: the events changelog DOUBLED, "
    "with each duplicate copy time-shifted +5 minutes so it typically "
    "lands in a LATER micro-batch than its original (an equal-ts copy "
    "would range-split into the same batch and be removed by "
    "within-batch distinct, proving nothing about state) — then "
    "replayed as a time-ordered availableNow file stream through "
    "watermarked dropDuplicates(event_id). The state store must carry "
    "every seen key across batch boundaries within the 2h watermark "
    "horizon (+5min is far inside it) and drop the second copy. The "
    "appended sink must hash-equal the plain events table on the "
    "copy-invariant columns — exactly one row per event_id, none lost, "
    "none extra; ts is deliberately excluded because WHICH copy "
    "survives when both race into one micro-batch is arbitrary in any "
    "distributed dedup and is not the semantics under attestation. The "
    "driver surface for the stateful-dedup family (T-extension), "
    "previously pytest-only.",
    tags=("extension", "dedup", "streaming", "events"),
)
def _streaming_dedup_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from full_data_infrastructure_spark.cache import hold_dir
    from full_data_infrastructure_spark.streaming.replay import (
        replay_stream,
        run_stream_to_parquet,
    )
    from full_data_infrastructure_spark.streaming.windows import dedup_stream

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    late_copies = events.withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 5 MINUTES")
    )
    doubled = events.unionAll(late_copies)
    work, stream = replay_stream(
        spark, doubled, "ts", prefix="dedup_snapshot_"
    )
    deduped = dedup_stream(stream, keys=("event_id",), watermark="2 hours")
    out_path = run_stream_to_parquet(deduped, work, "deduped")
    return hold_dir(work, spark.read.parquet(out_path).select(
        "event_id", "user_id", "event_type"
    ))


@register(
    "streaming_ema_snapshot",
    """
    WITH seq AS (
        SELECT user_id,
               list(value ORDER BY ts, event_id) AS vs,
               COUNT(*) AS n
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_events,
           list_reduce(vs, (acc, x) -> 0.5 * acc + 0.5 * x) AS ema_value
    FROM seq
    """,
    doc="Custom-stateful-operator streaming parity — the driver surface "
    "for the applyInPandasWithState family (previously pytest-only): "
    "events replayed as a time-ordered availableNow file stream through "
    "running_user_ema (streaming/stateful.py), whose per-key state-store "
    "scalars fold each micro-batch with the identical IEEE-double op "
    "sequence as the batch/DuckDB list_reduce (alpha=1/2, every multiply "
    "exact; NULL values poison the fold on both paths). The memory sink "
    "collects the update-mode emissions and the final state per user — "
    "the emission with the highest n_events — must hash-match the "
    "oracle's direct fold over the whole history, proving the O(1)-state "
    "accumulator equals the O(history) batch fold across real "
    "micro-batch boundaries. Cut-point invariance is property-tested in "
    "tests/test_properties.py; this row attests it on the driver's own "
    "comparison.",
    tags=("extension", "window", "streaming", "events"),
)
def _streaming_ema_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from full_data_infrastructure_spark.cache import hold_dir
    from full_data_infrastructure_spark.streaming.replay import (
        replay_stream,
        run_stream_to_memory,
    )
    from full_data_infrastructure_spark.streaming.stateful import running_user_ema

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    work, stream = replay_stream(spark, events, "ts", prefix="ema_snapshot_")
    # Update-mode emissions need the memory sink (the parquet sink is
    # append-only); the table is bounded by users x batches.
    table = run_stream_to_memory(running_user_ema(stream), work)
    emissions = spark.table(table)
    # Final state per user = the emission with the highest n_events
    # (strictly monotonic per key: every appearance adds >= 1 event).
    last_w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    last = (
        emissions.withColumn("_rn", F.row_number().over(last_w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_events", "ema_value")
    )
    return hold_dir(work, last)


@register(
    "funnel_conversion",
    """
    WITH clicks AS (
        SELECT user_id, MIN(ts) AS first_click
        FROM events WHERE event_type = 'click'
        GROUP BY user_id
    ),
    conv AS (
        SELECT c.user_id, c.first_click, MIN(p.ts) AS first_purchase
        FROM clicks c
        LEFT JOIN events p
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase'
         AND p.ts >= c.first_click
         AND p.ts <= c.first_click + INTERVAL 1 HOUR
        GROUP BY c.user_id, c.first_click
    )
    SELECT user_id, first_click, first_purchase,
           first_purchase IS NOT NULL AS converted
    FROM conv
    """,
    doc="Two-step funnel: per user, first click and the earliest purchase "
    "within the following hour (behavioral-analytics conversion). The "
    "range join keys on user_id (equality) so it shuffles once and "
    "applies the time bounds as a join filter — no time-bucket explosion "
    "needed at this window size; for wide windows switch to the bucketed "
    "range-join pattern in joins.py::_range_join.",
    tags=("extension", "window", "events"),
)
def _funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") >= F.col("first_click"))
        & (F.col("p_ts") <= F.col("first_click") + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    conv = joined.groupBy("user_id", "first_click").agg(
        F.min("p_ts").alias("first_purchase")
    )
    return conv.select(
        "user_id",
        "first_click",
        "first_purchase",
        F.col("first_purchase").isNotNull().alias("converted"),
    )


@register(
    "streaming_funnel_snapshot",
    """
    WITH clicks AS (
        SELECT user_id, MIN(ts) AS first_click
        FROM events WHERE event_type = 'click'
        GROUP BY user_id
    ),
    conv AS (
        SELECT c.user_id, c.first_click, MIN(p.ts) AS first_purchase
        FROM clicks c
        LEFT JOIN events p
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase'
         AND p.ts >= c.first_click
         AND p.ts <= c.first_click + INTERVAL 1 HOUR
        GROUP BY c.user_id, c.first_click
    )
    SELECT user_id,
           strftime(first_click, '%Y-%m-%d %H:%M:%S') AS first_click_s,
           strftime(first_purchase, '%Y-%m-%d %H:%M:%S') AS first_purchase_s,
           CAST(first_purchase IS NOT NULL AS INT) AS converted
    FROM conv
    """,
    doc="Stream-STREAM join parity (the one §2.9 stateful operator class "
    "the other snapshot queries don't reach): events replayed as TWO "
    "independent time-ordered availableNow file streams over the same "
    "changelog, left-outer interval-joined — every click against the "
    "purchases within the following hour — with watermark-driven state "
    "eviction and NULL-row emission for unconverted clicks. The appended "
    "pair set is then reduced (batch) to first click / earliest "
    "in-horizon purchase per user and hash-matched against "
    "funnel_conversion's direct SQL: a match proves the streaming join "
    "emitted every qualifying pair exactly once and every unconverted "
    "click exactly once, across real micro-batch boundaries where a "
    "click's purchase arrives batches later. The far-future sentinel "
    "(neither click nor purchase; watermarks advance BELOW the filters) "
    "flushes the final buffered clicks.",
    tags=("extension", "window", "streaming", "events"),
)
def _streaming_funnel_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime
    import os

    from full_data_infrastructure_spark.cache import hold_dir
    from full_data_infrastructure_spark.streaming.replay import (
        replay_stream,
        run_stream_to_parquet,
        symlink_table_files,
    )
    from full_data_infrastructure_spark.streaming.windows import (
        interval_join_clicks_purchases,
    )

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    # sentinel_copies=3: join-state eviction applies the committed
    # watermark with up to two batches of lag and availableNow appends no
    # trailing no-data batches for joins, so the final unconverted clicks
    # need the advanced watermark CARRIED by extra (filtered) batches —
    # one sentinel would leave their NULL rows buffered forever
    # (write_flush_sentinel docstring).
    work, stream_a = replay_stream(
        spark,
        events,
        "ts",
        prefix="funnel_snapshot_",
        sentinel_fn=lambda mx: (
            -1,
            mx + datetime.timedelta(days=1),
            "__sentinel__",
        ),
        sentinel_copies=3,
    )
    # Second, independent stream over the same files through a SYMLINKED
    # directory: two readStreams on one path are deduplicated into a
    # single source by the engine (collapsing the plan into a self-join
    # with shared offsets); a distinct path keeps the join genuinely
    # two-sided, each side tracking its own offsets — the production
    # shape of two topics.
    src_b = os.path.join(work, "src_b")
    symlink_table_files(os.path.join(work, "src"), src_b)
    stream_b = (
        spark.readStream.schema(stream_a.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_b)
    )
    pairs = interval_join_clicks_purchases(stream_a, stream_b)
    out_path = run_stream_to_parquet(pairs, work, "pairs")
    snapshot = spark.read.parquet(out_path).filter(F.col("user_id") >= 0)
    # Batch reduction of the streamed pair set to the funnel's semantics:
    # first click per user, earliest purchase within ITS horizon. Rows
    # for later clicks are legitimate join output and are dropped here.
    first_w = Window.partitionBy("user_id")
    conv = (
        snapshot.withColumn("first_click", F.min("c_ts").over(first_w))
        .filter(F.col("c_ts") == F.col("first_click"))
        .groupBy("user_id", "first_click")
        .agg(F.min("p_ts").alias("first_purchase"))
    )
    return hold_dir(work, conv.select(
        "user_id",
        F.date_format("first_click", "yyyy-MM-dd HH:mm:ss").alias(
            "first_click_s"
        ),
        F.date_format("first_purchase", "yyyy-MM-dd HH:mm:ss").alias(
            "first_purchase_s"
        ),
        F.col("first_purchase").isNotNull().cast("int").alias("converted"),
    ))


@register(
    "cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
        FROM events
    )
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', cohort_week, active_week) / 7 AS INTEGER)
               AS week_offset,
           COUNT(DISTINCT user_id) AS n_active
    FROM firsts JOIN activity USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Weekly cohort retention: users grouped by first-activity week, "
    "counted in each later week they were active — the retention-matrix "
    "feed. Week offsets are exact day-multiples of 7 (both operands are "
    "week-truncated), so integer division is engine-exact. Two "
    "aggregates plus a join on user_id; the distinct-activity table is "
    "bounded by users x weeks, far smaller than events.",
    tags=("extension", "window", "events"),
)
def _cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    firsts = events.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    activity = events.select("user_id", wk.alias("active_week")).distinct()
    joined = firsts.join(activity, "user_id")
    offset = (
        F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
    ).cast("int")
    return joined.groupBy(
        F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
        offset.alias("week_offset"),
    ).agg(F.countDistinct("user_id").alias("n_active"))


@register(
    "activity_heatmap",
    """
    SELECT (isodow(ts) - 1) AS weekday,
           CAST(hour(ts) AS BIGINT) AS hour_of_day,
           event_type,
           COUNT(*) AS n_events,
           -- DECIMAL sum then one double division: order-independent and
           -- bit-identical across engines (a double AVG + ROUND trips on
           -- .xx5 representation ties)
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS avg_value
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1, 2, 3
    """,
    doc="Calendar heatmap feed (the Superset dashboard staple the "
    "reference's analytics layer serves): event volume and mean value "
    "by weekday x hour x type. Weekday uses the ISO convention "
    "(0=Monday) on both engines — Spark weekday() == DuckDB isodow()-1; "
    "one hash aggregate over codegen date parts, 7x24xtypes output rows "
    "at any input scale.",
    tags=("reference", "aggregate", "events", "dashboard"),
)
def _activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return (
        events.groupBy(
            F.weekday("ts").alias("weekday"),
            F.hour("ts").cast("bigint").alias("hour_of_day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
        )
    )


@register(
    "rfm_segments",
    """
    WITH anchor AS (SELECT MAX(ts) AS now_ts FROM events),
    per_user AS (
        SELECT e.user_id,
               CAST(date_diff('day', MAX(e.ts), ANY_VALUE(a.now_ts))
                    AS BIGINT) AS recency_days,
               COUNT(*) AS frequency,
               CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)
                   AS monetary
        FROM events e CROSS JOIN anchor a
        WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
        GROUP BY e.user_id
    )
    SELECT user_id, recency_days, frequency, monetary,
           CASE WHEN recency_days <= 7 AND frequency >= 5 THEN 'core'
                WHEN recency_days <= 30 THEN 'active'
                WHEN recency_days <= 60 THEN 'cooling'
                ELSE 'dormant' END AS segment
    FROM per_user
    """,
    doc="RFM segmentation (recency / frequency / monetary), the standard "
    "user-value analytics the reference's dashboard layer serves: per "
    "user, days since last purchase (anchored to the corpus max "
    "timestamp, so the query is deterministic — no wall clock), purchase "
    "count, DECIMAL-exact spend, and a rule-based segment. One aggregate "
    "over the purchases plus a broadcast 1-row anchor; user_id is "
    "high-cardinality so the shuffle partitions evenly.",
    tags=("reference", "aggregate", "events", "dashboard"),
)
def _rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    anchor = events.agg(F.max("ts").alias("now_ts"))
    per_user = (
        events.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.datediff(F.any_value("now_ts"), F.max("ts"))
            .cast("bigint")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("monetary"),
        )
    )
    segment = (
        F.when((F.col("recency_days") <= 7) & (F.col("frequency") >= 5), "core")
        .when(F.col("recency_days") <= 30, "active")
        .when(F.col("recency_days") <= 60, "cooling")
        .otherwise("dormant")
    )
    return per_user.select(
        "user_id", "recency_days", "frequency", "monetary", segment.alias("segment")
    )


@register(
    "ema_by_user",
    """
    WITH seq AS (
        SELECT user_id,
               list(value ORDER BY ts, event_id) AS vs,
               COUNT(*) AS n
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_events,
           list_reduce(vs, (acc, x) -> 0.5 * acc + 0.5 * x) AS ema_value
    FROM seq
    """,
    doc="Per-user exponential moving average of event values (alpha = 0.5) "
    "— the decayed-metric companion to the hypertable rollup, and a "
    "recursive fold Spark's window frames can't express: computed as "
    "one groupBy + array_sort + JVM-side higher-order aggregate (no "
    "UDF, no per-row Python). alpha = 1/2 keeps every multiply exact "
    "in binary floating point and both engines fold the identically "
    "ordered sequence with identical IEEE ops, so the raw doubles "
    "hash-match without rounding. Scale note: per-key state is the "
    "key's event list — bounded by per-user cardinality, the same "
    "bound the sessionize window carries; an unbounded stream would "
    "use the applyInPandasWithState accumulator instead "
    "(streaming/stateful.py::running_user_ema, proven bit-identical to "
    "this fold for arbitrary micro-batch cuts in "
    "tests/test_properties.py).",
    tags=("extension", "window", "events"),
    exact_float_cols=("ema_value",),
)
def _ema_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ema_fold(load_table(spark, sf_dir, "events"))


def ema_fold(events: DataFrame) -> DataFrame:
    """The batch EMA fold behind ``ema_by_user``, reusable on any frame
    with (user_id, ts, event_id, value) — the property test runs it on
    arbitrary inputs against the streaming accumulator's chunked fold."""
    # struct field order (ts, event_id, value) IS the sort key — unique by
    # event_id, so the fold order is total and engine-independent.
    grouped = events.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("seq"),
        F.count(F.lit(1)).alias("n_events"),
    )
    seed = F.element_at("seq", 1).getField("value")
    rest = F.slice("seq", 2, F.size("seq") - 1)
    ema = F.aggregate(
        rest, seed, lambda acc, s: acc * 0.5 + s.getField("value") * 0.5
    )
    return grouped.select("user_id", "n_events", ema.alias("ema_value"))


# DuckDB reference for every SCD2 query: the full-history rebuild that
# each fold, however it was batched, must reproduce.
_SCD2_ORACLE = """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_state,
               LAG(event_id) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_event_id
        FROM events
    ),
    versions AS (
        SELECT user_id, event_type AS state, ts AS valid_from, event_id
        FROM ordered
        WHERE prev_event_id IS NULL
           OR prev_state IS DISTINCT FROM event_type
    )
    SELECT user_id,
           state,
           valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) AS valid_to,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, event_id) IS NULL
               AS is_current,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY valid_from, event_id) AS BIGINT)
               AS version
    FROM versions
    """


@register(
    "scd2_history",
    _SCD2_ORACLE,
    doc="Slowly-changing-dimension Type 2 history built from a change "
    "stream: per user, consecutive duplicate states are compressed away "
    "(lag != state keeps only real transitions), then each surviving "
    "transition becomes a version row with [valid_from, valid_to) "
    "validity, an is_current flag on the open interval, and a per-key "
    "version number. This is the dimension-history layer the reference's "
    "CDC pipeline feeds in a warehouse (Debezium changelog -> Delta, "
    "spark/SaveDelta.scala:157-163): the upsert sink keeps the LATEST "
    "row per key, SCD2 keeps ALL of them with validity intervals. One "
    "shuffle on user_id; the compress window and the version/lead window "
    "share the same partitioning AND sort order (valid_from IS ts on the "
    "surviving rows), so the second window adds no exchange and no "
    "re-sort. Spark's row_number is int32 while DuckDB's is int64 — both "
    "sides cast to BIGINT.",
    tags=("extension", "window", "events"),
)
def _scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return scd2_finalize(scd2_versions(events))


def scd2_versions_sql(changes: str) -> str:
    """The SCD2 state compression of relation ``changes``; see
    :func:`scd2_versions`."""
    return f"""
    SELECT user_id, event_type AS state, ts AS valid_from, event_id
    FROM (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_state,
               LAG(event_id)   OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_event_id
        FROM {changes}
    )
    WHERE prev_event_id IS NULL OR NOT (prev_state <=> event_type)
    """


def scd2_apply_sql(standing: str | None, batch: str) -> str:
    """The SCD2 fold of relation ``batch`` into the version relation
    ``standing`` (``None``: no versions yet); see
    :func:`scd2_apply_batch`."""
    changes = f"(SELECT user_id, event_type, ts, event_id FROM {batch})"
    if standing is None:
        return scd2_versions_sql(changes)
    touched = f"(SELECT DISTINCT user_id FROM {batch})"
    replayed = f"""(
        SELECT /*+ BROADCAST(t) */
               s.user_id, s.state AS event_type, s.valid_from AS ts, s.event_id
        FROM {standing} s LEFT SEMI JOIN {touched} t ON s.user_id = t.user_id
        UNION ALL
        SELECT user_id, event_type, ts, event_id FROM {changes}
    )"""
    return f"""
    SELECT /*+ BROADCAST(t) */ s.user_id, s.state, s.valid_from, s.event_id
    FROM {standing} s LEFT ANTI JOIN {touched} t ON s.user_id = t.user_id
    UNION ALL
    {scd2_versions_sql(replayed)}
    """


def scd2_versions(changes: DataFrame) -> DataFrame:
    """Compress a change stream (user_id, event_type, ts, event_id) to
    version rows (user_id, state, valid_from, event_id): only real state
    transitions survive. Idempotent — recompressing the output
    (optionally extended with later changes) yields the same versions,
    which is what makes incremental maintenance exact: the compressed
    prefix preserves both the change subsequence and the boundary state
    the suffix's first comparison needs.

    NULL is a legal state and the comparison is null-safe (``<=>``): a
    plain ``LAG != state`` both silently drops every x -> NULL transition
    AND breaks the idempotence above (the recompression sees a different
    LAG and drops NULL-state versions the first pass kept). First-row
    detection therefore rides on LAG(event_id) — non-null by schema —
    never on the nullable state.

    event_id is retained as the deterministic tiebreaker for equal-ts
    changes; scd2_finalize drops it.
    """
    return run_over_views(scd2_versions_sql, changes=changes)


def scd2_finalize(versions: DataFrame) -> DataFrame:
    """Derive [valid_from, valid_to) validity, the is_current flag and a
    per-key version number from compressed version rows."""
    v_w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return versions.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(v_w).alias("valid_to"),
        F.lead("valid_from").over(v_w).isNull().alias("is_current"),
        F.row_number().over(v_w).cast("bigint").alias("version"),
    )


def scd2_apply_batch(standing: DataFrame, batch: DataFrame) -> DataFrame:
    """Incremental SCD2 maintenance: fold a fresh change batch into a
    standing compressed-version table touching ONLY the batch's users.

    Untouched users' versions pass through an anti join unchanged; for
    touched users the standing versions are replayed AS changes together
    with the new batch and recompressed — exact, because compression is
    idempotent on the already-compressed prefix (scd2_versions docstring).
    Work scales with the batch's user set, never the full corpus: this is
    the nightly-CDC shape where rebuilding history for 10^9 users because
    10^5 changed is the difference between minutes and a full-corpus
    shuffle. Requires every batch change to be at-or-after the standing
    history's end (CDC log order); equal-ts ties keep the event_id order.

    The batch's distinct user set is broadcast into both standing-side
    joins: a micro-batch's user set is bounded by the trigger size, and
    the statically-planned alternative is a sort-merge join that scans
    AND shuffles the entire standing table twice per fold.
    """
    return run_over_views(scd2_apply_sql, standing=standing, batch=batch)


@register(
    "scd2_incremental",
    _SCD2_ORACLE,
    doc="Incremental SCD2 maintenance proven exact: events are split at a "
    "fixed date into a standing history (compressed once) and a fresh "
    "CDC batch, the batch is folded in via scd2_apply_batch — anti-join "
    "pass-through for untouched users, replay-and-recompress for touched "
    "ones — and the result must hash-match the oracle's FULL-history "
    "rebuild. The match is the maintenance contract: fold(compress(A), "
    "B) == compress(A ∪ B), so a 100 TB history is never recomputed; "
    "the untouched branch (empty at this SF, where every user is active "
    "in the batch window) is exercised against a sparse synthetic batch "
    "in tests/test_operators.py.",
    tags=("extension", "window", "events"),
)
def _scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    cut = F.lit("2024-01-25").cast("timestamp")
    standing = scd2_versions(events.filter(F.col("ts") < cut))
    batch = events.filter(F.col("ts") >= cut)
    return scd2_finalize(scd2_apply_batch(standing, batch))


@register(
    "window_range_hour_sum",
    """
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                    PARTITION BY user_id ORDER BY epoch_us(ts)
                    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS hour_sum
    FROM events
    """,
    doc="Time-RANGE frame aggregate (§2.5's missing frame kind — every "
    "other window here is ROWS-framed): per user, the sum of event "
    "values in the trailing ONE HOUR of event time, however many rows "
    "that spans. ROWS frames answer 'last 7 events', RANGE frames answer "
    "'last hour' — the shape rate limiting, rolling spend caps and "
    "sliding SLO windows need, and at 100 TB it is one shuffle + one "
    "sort exactly like a ROWS frame (the frame bound is evaluated on "
    "the already-sorted run). Event time is compared in integer "
    "microseconds on both engines (unix_micros / epoch_us — no "
    "timezone or double-epoch hazard), equal-ts peers are in-frame per "
    "the SQL standard in both, and the summand is the repo's exact "
    "DECIMAL cast so the frame sum is association-order-free.",
    tags=("extension", "window", "events"),
)
def _window_range_hour_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ev = events.withColumn("ts_us", F.unix_micros("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(money("value")).over(w).cast("double").alias("hour_sum"),
    )


@register(
    "streaming_scd2_snapshot",
    _SCD2_ORACLE,
    doc="SCD2 under REAL micro-batches — scd2_incremental proves one fold "
    "at one cut; this replays the whole change stream time-ordered "
    "through streaming/sinks.py::start_scd2_sink (foreachBatch "
    "scd2_apply_batch + snapshot swap, 8 availableNow batches) and "
    "hash-matches the accumulated version table against the oracle's "
    "single-shot full-history rebuild: the dimension-history warehouse "
    "consumer of a CDC topic, end-to-end. The ts-ordered range split "
    "guarantees the at-or-after batch contract (equal timestamps never "
    "split across batches); the random-cut-point property test is the "
    "same contract at the operator level.",
    tags=("extension", "window", "streaming", "events", "cdc"),
)
def _streaming_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from full_data_infrastructure_spark.cache import hold_dir
    from full_data_infrastructure_spark.streaming.replay import replay_stream
    from full_data_infrastructure_spark.streaming.sinks import start_scd2_sink

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    work, stream = replay_stream(spark, events, "ts", prefix="scd2_snapshot_")
    q = start_scd2_sink(
        stream,
        versions_path=os.path.join(work, "versions"),
        checkpoint_path=os.path.join(work, "checkpoint"),
        available_now=True,
    )
    q.awaitTermination()
    versions = spark.read.parquet(os.path.join(work, "versions"))
    return hold_dir(work, scd2_finalize(versions))


@register(
    "streaming_scd2_bucketed_snapshot",
    _SCD2_ORACLE,
    doc="The BUCKETED SCD2 sink under a key-sparse workload — the actual "
    "100 TB path. Same change stream and "
    "the same full-history-rebuild oracle as streaming_scd2_snapshot "
    "(history is batching-invariant given per-user at-or-after order), "
    "but the replay is BUCKET-GROUPED: the file split orders by "
    "crc32(user_id) mod 16 first, event time second, so each micro-batch "
    "touches ~2 of the sink's 16 version-table buckets and the fold reads "
    "AND swaps only those directories. The per-user at-or-after contract "
    "survives: a user's changes share one bucket and are ts-ordered "
    "within it, and the range split keeps equal (bucket, ts) pairs in "
    "one file so equal-ts ties never straddle a batch.",
    tags=("extension", "window", "streaming", "events", "cdc"),
)
def _streaming_scd2_bucketed_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from full_data_infrastructure_spark.cache import hold_dir
    from full_data_infrastructure_spark.streaming.replay import replay_stream
    from full_data_infrastructure_spark.streaming.sinks import (
        _key_bucket,
        read_bucketed_snapshot,
        start_scd2_sink,
    )

    n_buckets = 16
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    changes = events.withColumn(
        "replay_offset",
        # Bucket-major, time-minor: all of a bucket's changes replay
        # together in event-time order, so per-user at-or-after holds
        # while each micro-batch stays bucket-sparse.  The multiplier
        # must exceed the corpus's unix_micros SPAN or bucket bands
        # interleave and the replay silently degrades to near time-major
        # (batches touch all 16 buckets; results stay correct but the
        # pruned-IO bench claim vanishes).  2^54 microseconds ≈ 571
        # years clears any epoch-boundary corpus (2^44 µs, ~204 days,
        # does not).  15 * 2^54 + unix_micros(9999-12-31) ≈ 2.7e17,
        # well inside int64.  Bucket-band separation is pinned on a
        # 75-year-span corpus by
        # tests/test_streaming.py::test_bucket_major_offset_survives_wide_ts_span.
        _key_bucket("user_id", n_buckets).cast("bigint")
        * F.lit(1 << 54).cast("bigint")
        + F.unix_micros("ts"),
    )
    work, stream = replay_stream(
        spark, changes, "replay_offset", prefix="scd2_bucketed_"
    )
    q = start_scd2_sink(
        stream.drop("replay_offset"),
        versions_path=os.path.join(work, "versions"),
        checkpoint_path=os.path.join(work, "checkpoint"),
        available_now=True,
        n_buckets=n_buckets,
    )
    q.awaitTermination()
    # An all-empty replay never creates a bucket directory; read the
    # snapshot total-on-empty with the version schema the fold writes.
    ver_schema = scd2_versions(events.limit(0)).schema
    return hold_dir(work, scd2_finalize(
        read_bucketed_snapshot(spark, os.path.join(work, "versions"), ver_schema)
    ))


@register(
    "funnel_three_step",
    """
    WITH v AS (
        SELECT user_id, MIN(ts) AS vts FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS cts
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click'
          AND e.ts >= v.vts AND e.ts <= v.vts + INTERVAL 1 HOUR
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS pts
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts >= c.cts AND e.ts <= c.cts + INTERVAL 1 HOUR
        GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click,
           CAST(COUNT(*) AS BIGINT) AS n_purchase
    FROM p
    """,
    doc="Three-step sequential funnel (view -> click within 1h -> purchase "
    "within 1h of the click): the ORDERED multi-stage conversion shape "
    "funnel_conversion's single click->purchase edge doesn't cover — "
    "each stage anchors on the PREVIOUS stage's first qualifying event, "
    "so out-of-order occurrences (purchase before click) never count. "
    "Three co-keyed user_id joins against per-stage MIN anchors (each a "
    "map-side-combined aggregate), output one funnel row; timestamps "
    "compare exactly in both engines so the stage counts hash-match.",
    tags=("extension", "window", "session", "events"),
)
def _funnel_three_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vts"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") >= F.col("vts"))
            & (F.col("ts") <= F.col("vts") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("cts"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") >= F.col("cts"))
            & (F.col("ts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    nv = v.agg(F.count(F.lit(1)).alias("n_view"))
    nc = c.agg(F.count(F.lit(1)).alias("n_click"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchase"))
    return nv.crossJoin(nc).crossJoin(np_)


@register(
    "window_percent_rank",
    """
    SELECT c_custkey, c_mktsegment,
           ROUND(percent_rank() OVER (PARTITION BY c_mktsegment
                                      ORDER BY c_acctbal, c_custkey), 6)
               AS pct_rank,
           ROUND(cume_dist() OVER (PARTITION BY c_mktsegment
                                   ORDER BY c_acctbal, c_custkey), 6)
               AS cum_dist
    FROM customer
    """,
    doc="percent_rank + cume_dist (the last §2.5 ranking functions not yet "
    "on the surface after rank/dense-rank/ntile): every customer's "
    "relative standing within its market segment — the normalized-rank "
    "shape scorecards and percentile-based alerting use. The unique "
    "(value, key) ordering removes peer groups, so both functions reduce "
    "to integer ratios ((rank-1)/(n-1), rank/n) — identical IEEE "
    "divisions in both engines, rounded at 6dp. One shuffle per "
    "segment partition, same cost class as any ranking window.",
    tags=("extension", "window"),
)
def _window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return customer.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    )


@register(
    "event_gap_histogram",
    """
    WITH gaps AS (
        SELECT epoch_us(ts) // 1000000
               - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)) // 1000000
                   AS gap_s
        FROM events
    )
    SELECT CASE WHEN gap_s < 60 THEN 'a_under_1m'
                WHEN gap_s < 3600 THEN 'b_under_1h'
                WHEN gap_s < 86400 THEN 'c_under_1d'
                WHEN gap_s < 604800 THEN 'd_under_1w'
                ELSE 'e_longer' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM gaps
    WHERE gap_s IS NOT NULL
    GROUP BY 1
    """,
    doc="Inter-event cadence histogram: the distribution of gaps between "
    "a user's consecutive events, bucketed at minute/hour/day/week "
    "boundaries — the engagement-rhythm shape that picks session "
    "timeouts (the 30-minute sessionize gap should sit in a valley) and "
    "exposes bot traffic (a spike in the sub-minute bucket). Gap "
    "seconds are integer (epoch-microsecond integer division), bucket "
    "edges are literals, so counts are exact in both engines. One "
    "window shuffle keyed on the user, one map-side-combined count.",
    tags=("extension", "window", "aggregate", "events"),
)
def _event_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr("unix_micros(ts) div 1000000") - F.expr(
        "unix_micros(lag(ts) over (partition by user_id order by ts, event_id)) div 1000000"
    )
    gaps = events.select(gap.alias("gap_s")).filter(F.col("gap_s").isNotNull())
    bucket = (
        F.when(F.col("gap_s") < 60, "a_under_1m")
        .when(F.col("gap_s") < 3600, "b_under_1h")
        .when(F.col("gap_s") < 86400, "c_under_1d")
        .when(F.col("gap_s") < 604800, "d_under_1w")
        .otherwise("e_longer")
    )
    return gaps.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
