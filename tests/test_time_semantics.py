"""Timestamp-extreme oracle parity — pre-1970 and epoch-boundary time.

The synthetic corpus lives entirely in 2024 (events) / 1995-2001
(orders, lineitem), so the standard parity suite never exercises
negative epochs. At 100 TB of ingested history they are routine:
mis-parsed two-digit years, sensor clocks reset to 0, genuinely old
archives. The classic cross-engine hazard is integer division on
negative epoch values — C-style truncation toward zero (Spark ``div``,
DuckDB ``//``) vs Python-style flooring disagree on every value in
(-divisor, 0) — plus calendar-vs-epoch bucketing (``date_trunc`` floors
by calendar field on both engines even pre-epoch, but any epoch-division
bucket would not).

Two hostile corpora:

* **Pre-epoch corpus** — every ``events.ts`` shifted -56 years (all of
  1968: every epoch value negative), ``orders.o_orderdate`` and
  ``lineitem.l_shipdate`` shifted -60 years on the SAME orderkey rows
  (join consistency and ship-after-order latency preserved). The
  uniform shift keeps spans, per-user uniqueness, and relative gaps
  exactly, so EVERY ts-reading oracled query — including the dense-grid
  ``gapfill_locf``, whose output cardinality scales with the global
  span — re-runs with its full semantics intact on all-negative epochs.

* **Epoch-boundary corpus** — three events bands get hostile pins, each
  keeping ``ts`` globally unique (operators' order contracts ride on
  distinct ts per user, tie-broken by event_id where ties are part of
  the contract): ``event_id % 13 == 1`` -> ``timestamp_micros(-id)``
  (unique, microseconds below epoch zero: the maximal truncate-vs-floor
  divergence band), ``% 13 == 2`` -> ``timestamp_micros(+id)`` (the
  first second after the boundary), ``% 13 == 3`` -> ts + 21 years
  (beyond 2038, past any int32-seconds horizon). ``gapfill_locf`` is
  excluded HERE only: its output is the dense (global span x key) grid,
  and a 1969->2045 span makes the 3.4M-row comparison the workload
  rather than the semantics — the pre-epoch corpus already runs its
  kernel end-to-end on negative epochs with the span unchanged.

When introduced (round 8) the sweep verified (and its green state now
pins) that the engine's epoch-division sites — ``unix_micros(ts) div
1_000_000`` against the oracles' ``epoch_us(ts) // 1_000_000`` in
event-gap, staleness, and trend operators — share truncation semantics
on negative values (it caught ``trend_by_event_type`` overflowing
DuckDB's int64-backed DECIMAL(18) on a pre-epoch x-squared — widened to
hugeint-backed DECIMAL(19,0) both sides), and that ``date_trunc``/
``window`` bucketing, RANGE-frame arithmetic, session gaps, and SCD2
folds all agree cross-engine below epoch zero.

**Engine limitation, pinned not papered over:** Apache Spark's event-time
watermark is clamped to ``max(0, maxEventTime - delay)`` — it can never
go below epoch zero — so EVERY watermarked stateful streaming operator
silently drops pre-epoch rows as "late" even on the very first
micro-batch, when no data has been seen at all. (Batch ``F.window``
bucketing handles negative epochs correctly; only the streaming
watermark path has the floor — verified empirically by
``test_watermark_epoch_floor_is_an_engine_limit`` below, which will
start FAILING if a future Spark release lifts the clamp, the signal to
re-include the excluded queries.) The four watermarked streaming parity
queries are therefore excluded from these corpora: their replay
machinery cannot observe 1968 no matter what we write. A 100 TB
ingest pipeline with genuinely pre-1970 event times must bucket them in
BATCH (which this sweep proves correct) or shift the clock domain before
the watermarked stage.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from full_data_infrastructure_spark import queries as registry
from tests.oracle_check import compare
from tests.test_extreme_semantics import _duck_for, _write_corpus

registry._ensure_loaded()

_TS_COLS = re.compile(r"\b(ts|o_orderdate|l_shipdate)\b")
# Watermarked stateful streaming replays: Spark clamps the event-time
# watermark at epoch 0, dropping every pre-epoch row as late (module
# docstring; the floor itself is pinned by
# test_watermark_epoch_floor_is_an_engine_limit).
WATERMARK_FLOORED = frozenset(
    {
        "streaming_funnel_snapshot",
        "streaming_sessionize_snapshot",
        "streaming_sliding_snapshot",
        "streaming_tumbling_snapshot",
    }
)
TIME_ORACLED = [
    n
    for n in sorted(registry.REGISTRY)
    if registry.REGISTRY[n].oracle
    and _TS_COLS.search(registry.REGISTRY[n].oracle)
    and n not in WATERMARK_FLOORED
]
# Queries whose oracle reads events.ts (the only column the boundary
# corpus perturbs); grid exclusion documented in the module docstring.
BOUNDARY_SWEEP = [
    n
    for n in TIME_ORACLED
    if re.search(r"\bts\b", registry.REGISTRY[n].oracle)
    and n != "gapfill_locf"
]


@pytest.fixture(scope="module")
def preepoch_sf_dir(spark, sf_dir, tmp_path_factory):
    def transform(name, df):
        if name == "events":
            return df.withColumn("ts", F.expr("ts - INTERVAL 56 YEARS"))
        if name == "orders":
            return df.withColumn(
                "o_orderdate",
                F.when(
                    F.col("o_orderkey") % 5 == 1,
                    F.expr("o_orderdate - INTERVAL 60 YEARS"),
                ).otherwise(F.col("o_orderdate")),
            )
        if name == "lineitem":
            return df.withColumn(
                "l_shipdate",
                F.when(
                    F.col("l_orderkey") % 5 == 1,
                    F.expr("l_shipdate - INTERVAL 60 YEARS"),
                ).otherwise(F.col("l_shipdate")),
            )
        return df

    root = str(tmp_path_factory.mktemp("sf_preepoch"))
    _write_corpus(spark, sf_dir, root, transform)
    return root


@pytest.fixture(scope="module")
def boundary_sf_dir(spark, sf_dir, tmp_path_factory):
    def transform(name, df):
        if name != "events":
            return df
        m = F.col("event_id") % 13
        ts = (
            F.when(m == 1, F.timestamp_micros(-F.col("event_id")))
            .when(m == 2, F.timestamp_micros(F.col("event_id")))
            .when(m == 3, F.expr("ts + INTERVAL 21 YEARS"))
            .otherwise(F.col("ts"))
        )
        return df.withColumn("ts", ts)

    root = str(tmp_path_factory.mktemp("sf_boundary"))
    _write_corpus(spark, sf_dir, root, transform)
    return root


@pytest.fixture(scope="module")
def preepoch_duck(preepoch_sf_dir):
    con = _duck_for(preepoch_sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="module")
def boundary_duck(boundary_sf_dir):
    con = _duck_for(boundary_sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", TIME_ORACLED)
def test_preepoch_oracle_parity(spark, preepoch_sf_dir, preepoch_duck, name):
    q = registry.REGISTRY[name]
    ok, msg = compare(
        q.build(spark, preepoch_sf_dir),
        preepoch_duck.sql(q.oracle),
        exact_cols=q.exact_float_cols,
    )
    assert ok, f"{name} (pre-epoch corpus): {msg}"


@pytest.mark.parametrize("name", BOUNDARY_SWEEP)
def test_epoch_boundary_oracle_parity(spark, boundary_sf_dir, boundary_duck, name):
    q = registry.REGISTRY[name]
    ok, msg = compare(
        q.build(spark, boundary_sf_dir),
        boundary_duck.sql(q.oracle),
        exact_cols=q.exact_float_cols,
    )
    assert ok, f"{name} (epoch-boundary corpus): {msg}"


def test_watermark_epoch_floor_is_an_engine_limit(spark):
    """Pins WHY the four WATERMARK_FLOORED queries are excluded above: a
    watermarked streaming aggregation drops pre-epoch rows as late even
    on the first micro-batch (Spark tracks the watermark as
    ``max(0, maxEventTime - delay)``), while the identical rows shifted
    into positive-epoch territory flow through the identical plan. If
    Spark ever lifts the clamp, the first assertion fails — the signal
    to drop WATERMARK_FLOORED and let the sweeps cover streaming too."""
    import datetime

    from full_data_infrastructure_spark.streaming.replay import (
        replay_stream,
        run_stream_to_parquet,
    )
    from full_data_infrastructure_spark.streaming.windows import tumbling_counts

    def replay_counts(rows):
        df = spark.createDataFrame(rows, "ts timestamp, event_type string")
        work, stream = replay_stream(
            spark,
            df,
            "ts",
            prefix="wm_floor_",
            n_files=2,
            sentinel_fn=lambda mx: (
                mx + datetime.timedelta(days=1),
                "__sentinel__",
            ),
        )
        counts = tumbling_counts(stream, watermark="0 seconds")
        out = run_stream_to_parquet(counts, work, "w")
        return sorted(
            (str(r.window_start), r.n)
            for r in spark.read.parquet(out)
            .filter(~F.col("event_type").eqNullSafe("__sentinel__"))
            .collect()
        )

    pre = [
        (datetime.datetime(1968, 6, 15, 7, 45, 0), "a"),
        (datetime.datetime(1968, 6, 15, 7, 50, 0), "a"),
        (datetime.datetime(1968, 6, 15, 9, 5, 0), "a"),
    ]
    assert replay_counts(pre) == [], (
        "Spark emitted pre-epoch windows from a watermarked streaming "
        "aggregation — the epoch-0 watermark clamp has been lifted; "
        "remove WATERMARK_FLOORED and extend the sweeps to streaming"
    )
    shifted = [(ts + datetime.timedelta(days=365 * 60), k) for ts, k in pre]
    assert replay_counts(shifted) == [
        ("2028-05-31 07:00:00", 2),
        ("2028-05-31 09:00:00", 1),
    ], "identical rows in positive-epoch territory must flow through"
