"""Event-time windowed streaming aggregation — the extension surface.

The reference has NO watermarks, event-time windows, or stateful dedup
(SURVEY.md §2.9: processing-time micro-batching only). These are required
engine surface for the north star; they run over the ``events`` fixture.

Scale notes: watermarks bound state (without one, a windowed aggregate's
state grows forever); window state is keyed by (window, key) and sharded by
the shuffle, so high-cardinality keys spread evenly. Dedup state is bounded
only by dropDuplicatesWithinWatermark (see :func:`dedup_stream` — plain
dropDuplicates without the event-time column in its keys never evicts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked 1-hour tumbling-window counts per ``event_type``:
    append-mode emits a window only once the watermark passes its end —
    late data beyond the watermark is dropped (the explicit late-data policy
    the reference lacks)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def sliding_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """1-hour windows sliding every 30 minutes, counted per ``event_type`` —
    each event lands in two overlapping panes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def session_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Per-``user_id`` session windows with a 30-minute inactivity gap — the
    streaming twin of the batch sessionize_batch operator
    (operators/windows.py)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Stateful streaming dedup on ``event_id`` under a 2-hour watermark:
    first-seen wins for any duplicate arriving within the watermark delay
    of the first copy, and state older than the horizon is EVICTED —
    bounded memory, the streaming twin of window_dedup_latest.

    ``dropDuplicatesWithinWatermark``, not plain ``dropDuplicates``: with
    the event-time column absent from the keys (the normal case — the key
    is the business id), plain dropDuplicates never evicts state by
    watermark, so its memory grows with every distinct key ever seen; the
    within-watermark variant trades that for an explicit horizon —
    duplicates farther apart than the watermark both survive, which is the
    contract a replayed-topic consumer actually wants."""
    return events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def interval_join_clicks_purchases(
    stream_a: DataFrame, stream_b: DataFrame
) -> DataFrame:
    """Stream-STREAM left-outer interval join: every click joined to the
    purchases that follow it within an hour — the two-sided stateful
    join the windowed aggregates above don't exercise. Inputs are two
    independent streams over the events schema (user_id, ts, event_type).

    Both sides carry a watermark and the join condition carries a
    time-range bound, which is exactly what lets Spark EVICT join state:
    a buffered click can stop waiting once the purchase-side watermark
    passes click_ts + 1 hour (at which point the left-outer NULL row is
    emitted), and a buffered purchase is droppable once the click-side
    watermark passes its ts. Without the range bound the state grows
    forever — the condition is load-bearing, not an optimization.

    Both sides watermark at zero delay. ``__sentinel__`` rows pass BOTH side
    filters: a watermark node only observes rows that reach it, and Catalyst
    legally pushes the event-type filters below ``withWatermark`` (the
    predicate doesn't touch the event-time column) — so a flush sentinel
    that matches neither side would never advance either watermark and,
    under the min policy across the two nodes, the global watermark would
    freeze at the click side's last real event. Letting the heartbeat row
    through both filters (it joins only with itself; callers filter its key
    out of the snapshot) is the replay twin of a live topic's heartbeat
    reaching every consumer group.
    """
    sentinel = F.col("event_type") == "__sentinel__"
    c = (
        stream_a.withWatermark("ts", "0 seconds")
        .filter((F.col("event_type") == "click") | sentinel)
        .select("user_id", F.col("ts").alias("c_ts"))
    )
    p = (
        stream_b.withWatermark("ts", "0 seconds")
        .filter((F.col("event_type") == "purchase") | sentinel)
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
    )
    return c.join(
        p,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 hour")),
        "leftOuter",
    ).select("user_id", "c_ts", "p_ts")


def enrich_stream_with_dim(stream: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Stream-STATIC left dimension join — the enrichment shape of a CDC
    pipeline (each micro-batch's rows decorated from a dimension table).

    The static side is explicitly BROADCAST: a stream-static join is
    per-batch stateless (no watermark, no join state), so the only scale
    question is whether the dim ships to the batch or the batch shuffles
    to the dim — for dimension-sized tables broadcast is always the
    answer, and at 100 TB the dim is re-broadcast only when the plan is
    re-resolved, not per record. For mutable dimensions, re-reading the
    dim per batch belongs in foreachBatch instead (the upsert sink's
    territory)."""
    return stream.join(F.broadcast(dim), on=key, how="left")
