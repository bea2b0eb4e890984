"""Aggregations — SURVEY.md §2.4 plus the dashboard-metric extensions
(distinct counts, rollup, percentiles, histogram buckets, rates) the
reference's Superset dashboards imply (README.md:167-172).

Scale notes: every groupBy here is a hash aggregate with map-side partial
aggregation; the shuffle moves only (key, partial-state) pairs, never raw
rows. Top-k compiles to TakeOrderedAndProject (per-partition heaps). The
only full-data shuffle in this file is the exact COUNT(DISTINCT), which
Catalyst expands to a two-stage aggregate; the approximate variant
(approx_count_distinct) is the 100 TB path and is O(1) state per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_data_infrastructure_spark.functions.money import (
    money_avg,
    money_sum,
    sql_money_avg,
    sql_money_sum,
)
from full_data_infrastructure_spark.operators.text import TOKENS_SQL
from full_data_infrastructure_spark.operators.windows import GAP_SECONDS_SQL, gap_seconds
from full_data_infrastructure_spark.queries import register
from full_data_infrastructure_spark.sources.parquet import load_table


def group_agg(df: DataFrame, key: str, count_alias: str, avg_col: str, avg_alias: str) -> DataFrame:
    """A1 (read_delta.py:123-127) — the reference's count+avg per key.

    The mean uses the exact-decimal-sum convention (functions/money.py) so
    results are deterministic across partitionings and engines.
    """
    return df.groupBy(key).agg(
        F.count(F.lit(1)).alias(count_alias),
        money_avg(avg_col).alias(avg_alias),
    )


@register(
    "groupby_count_avg",
    f"""
    SELECT o_custkey AS id_employee,
           COUNT(*) AS count_activity,
           {sql_money_avg('o_totalprice')} AS mean_duration
    FROM orders
    GROUP BY o_custkey
    """,
    doc="A1 group-by multi-aggregate (read_delta.py:123-127).",
    tags=("reference", "aggregate"),
)
def _groupby_count_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return group_agg(
        orders.select(F.col("o_custkey").alias("id_employee"), "o_totalprice"),
        "id_employee",
        "count_activity",
        "o_totalprice",
        "mean_duration",
    ).select("id_employee", "count_activity", "mean_duration")


@register(
    "topk_group_count",
    """
    SELECT l_returnflag AS sport_type, COUNT(*) AS count
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY count DESC, sport_type
    LIMIT 5
    """,
    doc="A2/O1 grouped count + ORDER BY DESC LIMIT 5 (SaveDelta.scala:236-242).",
    tags=("reference", "aggregate", "limit"),
)
def _topk_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy(F.col("l_returnflag").alias("sport_type"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.col("count").desc(), "sport_type")
        .limit(5)
    )


@register(
    "scalar_count",
    "SELECT COUNT(*) AS n FROM lineitem",
    doc="A3/A4 scalar COUNT(*) (sql_manipulation.py:75; read_delta.py:52). "
    "Parquet footer statistics make this metadata-only at any scale.",
    tags=("reference", "aggregate"),
)
def _scalar_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


@register(
    "multi_aggregate",
    f"""
    SELECT l_returnflag,
           l_linestatus,
           COUNT(*) AS n,
           {sql_money_sum('l_quantity')} AS sum_qty,
           {sql_money_sum('l_extendedprice')} AS sum_price,
           {sql_money_avg('l_discount')} AS avg_disc,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H-Q1-shaped multi-aggregate — the engine's hash-aggregate "
    "workhorse (extension of A1; dashboard metrics README.md:167-172). "
    "Sums/means via exact decimal (functions/money.py).",
    tags=("extension", "aggregate"),
)
def _multi_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum("l_quantity").alias("sum_qty"),
        money_sum("l_extendedprice").alias("sum_price"),
        money_avg("l_discount").alias("avg_disc"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "count_distinct",
    """
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_customers
    FROM customer
    GROUP BY c_mktsegment
    """,
    doc="Exact distinct aggregation (engine surface; §2.4 noted gap).",
    tags=("extension", "aggregate"),
)
def _count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        F.count_distinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@register(
    "approx_count_distinct",
    None,  # HLL sketches are engine-specific; rows-only check (recall tested in pytest)
    doc="approx_count_distinct — the 100 TB path for distinct counts (O(1) "
    "state per group vs a full shuffle). No DuckDB oracle: HLL estimates "
    "differ per engine; tests/test_operators.py bounds the error vs exact.",
    tags=("extension", "aggregate", "approx"),
)
def _approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts")
    )


@register(
    "rollup_counts",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
           COALESCE(l_linestatus, 'ALL') AS l_linestatus,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy totals (engine surface; §2.4 noted gap). COALESCE "
    "labels the super-aggregate rows so both engines agree on NULL handling.",
    tags=("extension", "aggregate"),
)
def _rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.rollup("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n")).select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
        "n",
    )


@register(
    "cube_counts",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
           COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
           COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over two dimensions (engine surface; §2.4 noted gap).",
    tags=("extension", "aggregate"),
)
def _cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
        "n",
    )


@register(
    "histogram_buckets",
    """
    SELECT CAST(FLOOR(l_quantity / 10.0) AS BIGINT) AS bucket,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY 1
    """,
    doc="Histogram bucketing for the dashboard salary-distribution metrics "
    "(README.md:167-172) — width_bucket-style via floor arithmetic.",
    tags=("extension", "aggregate"),
)
def _histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy(
            F.floor(F.col("l_quantity") / 10.0).cast("bigint").alias("bucket")
        ).agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "conditional_rate",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS finished_rate
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Validation-rate metric (README.md:171 'taux de validation') — "
    "conditional-count / count as one pass.",
    tags=("reference", "aggregate"),
)
def _conditional_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("finished_rate"),
    )


@register(
    "percentile_stats",
    """
    SELECT c_mktsegment,
           ROUND(MEDIAN(c_acctbal), 4) AS median_bal,
           ROUND(quantile_cont(c_acctbal, 0.9), 4) AS p90_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    doc="Exact percentiles (engine surface; §2.4 noted gap). Both engines "
    "interpolate linearly; rounding at 4 dp sits strictly below the "
    "inputs' 2-decimal precision so interpolation midpoints never tie.",
    tags=("extension", "aggregate"),
)
def _percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        F.round(F.median("c_acctbal"), 4).alias("median_bal"),
        F.round(F.percentile("c_acctbal", F.lit(0.9)), 4).alias("p90_bal"),
    )


GROUPING_SETS_SQL = """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           GROUPING(l_returnflag) AS g_rf,
           GROUPING(l_linestatus) AS g_ls
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), (l_linestatus), ())
"""


@register(
    "grouping_sets_counts",
    GROUPING_SETS_SQL,
    doc="Explicit GROUPING SETS with GROUPING() markers — the general form "
    "rollup/cube specialize; one ANSI string run verbatim by both engines. "
    "Catalyst plans it as a single Expand + hash aggregate, so all four "
    "groupings cost one shuffle.",
    tags=("sql", "aggregate"),
)
def _grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from full_data_infrastructure_spark.sources.parquet import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(GROUPING_SETS_SQL)


@register(
    "mad_outliers",
    """
    WITH cents AS (
        SELECT event_type, event_id, value,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS v_c
        FROM events
    ),
    med AS (
        SELECT event_type, median(v_c) AS med_c
        FROM cents GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.event_id, e.value, m.med_c,
               abs(e.v_c - m.med_c) AS adev_c
        FROM cents e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, median(adev_c) AS mad_c
        FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.event_type,
           ROUND(d.value, 2) AS value,
           d.med_c / 100.0 AS median_value,
           m.mad_c / 100.0 AS mad_value,
           d.adev_c > 3 * m.mad_c AS is_outlier
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    """,
    doc="Robust outlier flags via median absolute deviation: per event "
    "type, flag rows whose |value - median| exceeds 3 x MAD. Unlike "
    "mean/stddev z-scores, the medians are immune to the outliers being "
    "hunted. Two grouped EXACT medians + one broadcast of the tiny "
    "per-type statistics; the events table streams through once per "
    "median pass and never shuffles on a wide key. All median math runs "
    "on integer CENTS: even-count medians interpolate (a+b)/2, and over "
    "doubles the two engines' interpolation differs in the last ulp — "
    "right at a decimal tie when nulls shift a group to even count "
    "(caught by the null-injected parity sweep). Integer "
    "medians are exact halves in both engines, |v - med| stays exact, "
    "and the /100.0 display division is the same bits on both sides, so "
    "the derived statistics ship unrounded.",
    tags=("extension", "aggregate", "quality"),
    exact_float_cols=("median_value", "mad_value"),
)
def _mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "value",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_c"),
    )
    med = events.groupBy("event_type").agg(F.median("v_c").alias("med_c"))
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        "value",
        "med_c",
        F.abs(F.col("v_c") - F.col("med_c")).alias("adev_c"),
    )
    mad = dev.groupBy("event_type").agg(F.median("adev_c").alias("mad_c"))
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        F.round("value", 2).alias("value"),
        (F.col("med_c") / 100.0).alias("median_value"),
        (F.col("mad_c") / 100.0).alias("mad_value"),
        (F.col("adev_c") > 3 * F.col("mad_c")).alias("is_outlier"),
    )


@register(
    "winsorize_values",
    """
    WITH cents AS (
        SELECT event_id, event_type, value,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS v_c
        FROM events WHERE value IS NOT NULL
    ),
    bounds AS (
        SELECT event_type,
               quantile_cont(v_c, 0.05) AS lo_c,
               quantile_cont(v_c, 0.95) AS hi_c
        FROM cents
        GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(e.value, 2) AS value,
           GREATEST(b.lo_c, LEAST(b.hi_c, CAST(e.v_c AS DOUBLE))) / 100.0
               AS winsorized,
           (e.v_c < b.lo_c OR e.v_c > b.hi_c) AS was_clipped
    FROM cents e JOIN bounds b ON e.event_type = b.event_type
    """,
    doc="Winsorization: clip each value into its group's [P5, P95] band — "
    "the standard tail-taming transform before mean-based statistics, "
    "complementing the MAD outlier FLAGS with an outlier REPAIR. "
    "Percentiles run on integer CENTS (mad_outliers rationale): over "
    "doubles the engines' linear interpolation differs in the last ulp, "
    "which flips a ROUND at a decimal tie the moment a clipped tail "
    "lands near one (caught by the extreme-values parity sweep, round "
    "8); over integers the interpolation is bit-identical in both "
    "engines, and the /100.0 display division is the same bits on both "
    "sides, so the winsorized column ships unrounded. Bounds computed "
    "once per group and broadcast onto a single fact pass.",
    tags=("extension", "aggregate", "quality"),
    exact_float_cols=("winsorized",),
)
def _winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_id",
        "event_type",
        "value",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_c"),
    )
    bounds = events.groupBy("event_type").agg(
        F.percentile("v_c", F.lit(0.05)).alias("lo_c"),
        F.percentile("v_c", F.lit(0.95)).alias("hi_c"),
    )
    return events.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        F.round("value", 2).alias("value"),
        (
            F.greatest(
                F.col("lo_c"), F.least(F.col("hi_c"), F.col("v_c").cast("double"))
            )
            / 100.0
        ).alias("winsorized"),
        ((F.col("v_c") < F.col("lo_c")) | (F.col("v_c") > F.col("hi_c"))).alias(
            "was_clipped"
        ),
    )


def heavy_hitter_candidates(
    keys: DataFrame, key_col: str, k: int
) -> DataFrame:
    """Per-partition Misra-Gries summary: a map-only pass that shrinks an
    arbitrarily large key stream to at most ``k`` candidate keys per
    partition, plus one row-count row (``key IS NULL``) per partition.

    The summary is the mergeable weighted variant (Berinde et al., "Space-
    optimal heavy hitters with strong error bounds"): each Arrow batch's
    exact counts are folded into the counter dict, and whenever more than
    ``k`` counters are live, the (k+1)-th largest count is subtracted from
    all of them and non-positive counters are dropped — at most ``k``
    survive, and every prune removes at least (k+1) units per decremented
    unit, so any key's undercount is at most n_p/(k+1) for a partition of
    n_p rows. Hence every key with partition count > n_p/(k+1) survives
    with a positive counter, and (pigeonhole over partitions: if a key
    stayed under n_i/(k+1) everywhere, its global count would be under
    N/(k+1)) the UNION of partition summaries is a guaranteed superset of
    all keys with global frequency above N/(k+1).

    100 TB shape: nothing shuffles — the pass reads the key column only
    (column pruning reaches the scan) and emits ≤ partitions x (k+1)
    rows. Python-side work is one vectorized ``value_counts`` per Arrow
    batch plus O(k log k) per prune; the dict never exceeds
    k + batch-distinct entries. NULL keys are ignored (the null row is
    the partition row-count marker).
    """
    import pandas as pd

    if key_col == "w":
        raise ValueError(
            'key column may not be named "w" (reserved for the counter '
            "weight in the summary schema)"
        )
    key_field = keys.schema[key_col]

    def summarize(batches):
        import numpy as np

        counters: dict = {}
        n_rows = 0
        for pdf in batches:
            vc = pdf[key_col].value_counts()
            n_rows += int(pdf[key_col].notna().sum())
            for key, c in vc.items():
                counters[key] = counters.get(key, 0) + int(c)
            if len(counters) > k:
                vals = np.fromiter(counters.values(), dtype=np.int64)
                # (k+1)-th largest: at most k counters are strictly above.
                thresh = np.partition(vals, len(vals) - (k + 1))[
                    len(vals) - (k + 1)
                ]
                counters = {
                    key: c - thresh for key, c in counters.items() if c > thresh
                }
        yield pd.DataFrame(
            {
                key_col: list(counters.keys()) + [None],
                "w": list(counters.values()) + [n_rows],
            }
        )

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField(key_col, key_field.dataType, True),
            StructField("w", LongType(), False),
        ]
    )
    return keys.select(key_col).mapInPandas(summarize, out_schema)


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    support_num: int,
    support_den: int,
    k: int,
) -> DataFrame:
    """EXACT heavy hitters (keys with frequency >= support_num/support_den
    of all rows) in two passes, never a full-cardinality shuffle.

    Pass 1 (:func:`heavy_hitter_candidates`) is map-only and yields a
    guaranteed superset of the heavy hitters plus the exact total row
    count; pass 2 re-scans the input but counts ONLY rows matching the
    broadcast candidate set — the groupBy shuffles at most
    partitions x k keys instead of the full key cardinality. The final
    filter uses exact integer cross-multiplication (cnt * den >= num *
    total), so the result is deterministic and oracle-checkable despite
    the sketch in the middle. Requires support > 1/(k+1), otherwise the
    superset guarantee does not hold — asserted.

    A plain ``GROUP BY key HAVING count >= t`` shuffles every distinct
    key; over 100 TB of tokens that is the vocabulary-sized shuffle this
    operator exists to avoid.
    """
    if support_num * (k + 1) <= support_den:
        raise ValueError(
            f"support {support_num}/{support_den} needs k > "
            f"{support_den / support_num - 1:.0f} counters for the "
            "Misra-Gries superset guarantee"
        )
    from full_data_infrastructure_spark.cache import tracked_persist

    cands = tracked_persist(heavy_hitter_candidates(df, key_col, k))
    total = cands.where(F.col(key_col).isNull()).agg(
        F.sum("w").alias("total")
    )
    cand_keys = cands.where(F.col(key_col).isNotNull()).select(key_col).distinct()
    counts = (
        df.join(F.broadcast(cand_keys), key_col)
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("cnt") * support_den >= F.lit(support_num) * F.col("total"))
        .select(key_col, "cnt")
        .orderBy(F.desc("cnt"), key_col)
    )


@register(
    "heavy_hitters_tokens",
    f"""
    WITH toks AS (
        SELECT unnest({TOKENS_SQL}) AS tok
        FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM toks),
    c AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
    SELECT c.tok, c.cnt
    FROM c, tot
    WHERE c.cnt * 1000 >= 3 * tot.n
    ORDER BY cnt DESC, tok
    """,
    doc="All tokens carrying >= 0.3% of the corpus token stream — the "
    "stopword/boilerplate head a tokenizer or quality filter needs — via "
    "the two-pass Misra-Gries plan (map-only candidate sketch, then "
    "exact counts of the broadcast candidates only). The oracle computes "
    "the same set with a full GROUP BY; results match exactly because "
    "the sketch only proposes candidates, never counts. k=999 counters "
    "bounds the guarantee at 0.1% < 0.3% support.",
    tags=("extension", "aggregate", "approx", "llm", "text"),
)
def _heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from full_data_infrastructure_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    return heavy_hitters(toks, "tok", support_num=3, support_den=1000, k=999)


@register(
    "event_cooccurrence_lift",
    """
    WITH per_user AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    totals AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
               FROM per_user),
    singles AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_single
        FROM per_user GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM per_user a
        JOIN per_user b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_both,
           ROUND(CAST(p.n_both * t.n_users AS DOUBLE)
                 / CAST(sa.n_single * sb.n_single AS DOUBLE), 4) AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.type_a
    JOIN singles sb ON sb.event_type = p.type_b
    CROSS JOIN totals t
    """,
    doc="Association statistics (market-basket lift) between event types: "
    "for every unordered pair, lift = P(a,b) / (P(a)P(b)) over the user "
    "population — >1 means co-occurring beyond independence, the same "
    "co-occurrence statistic corpus analysis computes for word pairs "
    "(PMI is its log). Everything stays exact-integer until ONE double "
    "division of exact products (identical IEEE operands on both "
    "engines), then a 4dp round — no cross-engine log/ulp hazard, which "
    "is why lift rather than PMI is the attested surface. Scale: the "
    "distinct projection is one shuffle on (user, type); the per-user "
    "pair self-join is co-partitioned on user_id with fan-out bounded "
    "by the type cardinality squared, and singles/totals are "
    "broadcast-sized.",
    tags=("extension", "aggregate"),
)
def _event_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from full_data_infrastructure_spark.cache import tracked_persist

    events = load_table(spark, sf_dir, "events")
    # Persisted: the distinct projection feeds totals, singles, and both
    # sides of the pair self-join — without the persist that (user, type)
    # distinct shuffle recomputes up to four times.
    per_user = tracked_persist(events.select("user_id", "event_type").distinct())
    totals = per_user.agg(
        F.countDistinct("user_id").alias("n_users")
    )
    singles = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_single")
    )
    a, b = per_user.alias("a"), per_user.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n_single").alias("n_a")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n_single").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                (F.col("n_both") * F.col("n_users")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                4,
            ).alias("lift"),
        )
    )


@register(
    "trend_by_event_type",
    """
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(epoch_us(ts) // 1000000 - 1700000000
                             AS DECIMAL(19,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(epoch_us(ts) // 1000000 - 1700000000
                             AS DECIMAL(19,0))
                        * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(epoch_us(ts) // 1000000 - 1700000000
                             AS DECIMAL(19,0))
                        * CAST(epoch_us(ts) // 1000000 - 1700000000
                               AS DECIMAL(19,0))) AS DOUBLE) AS sxx
        FROM events
        GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_events,
           ROUND(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 86400.0, 6)
               AS slope_per_day
    FROM s
    """,
    doc="Per-key OLS trend: the least-squares slope of event value over "
    "event time for every event type, reported per day — the drift "
    "detector monitoring pipelines run over every metric. Exactly the "
    "correlation_matrix recipe applied group-wise: sufficient statistics "
    "(n, sum x, sum y, sum xy, sum x^2 with x = integer epoch seconds) "
    "accumulate as EXACT DECIMALs in one map-side-combined groupBy over "
    "one scan, cast to double once, and the closed-form slope runs the "
    "same IEEE operation sequence in both engines on those identical "
    "operands. ONE pass however many keys; the per-key regression loop "
    "it replaces is a scan per key.",
    tags=("extension", "aggregate", "events"),
)
def _trend_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # Integer division, not /: a float quotient's nearest-double rounding
    # can land across the integer boundary the floor semantics demand.
    # DECIMAL(19,0) (hugeint-backed in DuckDB, which overflows int64 on
    # an 18-width product square) gives |x| <= 3.16e9 exact-square
    # headroom — calendar years ~1870-2070 around the fixed center; an
    # OLS slope is translation-invariant in x.
    x = F.expr("unix_micros(ts) div 1000000 - 1700000000").cast("decimal(19,0)")
    y = F.col("value").cast("decimal(18,2)")
    s = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    return s.select(
        "event_type",
        n.cast("bigint").alias("n_events"),
        F.round(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 86400.0, 6).alias(
            "slope_per_day"
        ),
    )


@register(
    "rolling_active_users",
    """
    WITH ud AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud),
    contrib AS (
        SELECT user_id,
               unnest(generate_series(d, d + INTERVAL 6 DAY,
                                      INTERVAL 1 DAY)) AS w
        FROM ud
    )
    SELECT c.w AS day, CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau
    FROM contrib c
    JOIN days ON days.d = c.w
    GROUP BY c.w
    """,
    doc="Rolling 7-day active users per day (WAU) — the sliding DISTINCT "
    "aggregate window frames cannot express (COUNT(DISTINCT) OVER RANGE "
    "is unsupported, and summing daily distincts double-counts "
    "multi-day users). Exact via contribution explode: dedup to "
    "(user, day) pairs FIRST (the only corpus-sized reduction), then "
    "each user-day fans out to the 7 window-ends it makes active — a "
    "bounded x7 explode over the deduped pairs, never the raw events — "
    "and a distinct count per day finishes it. The naive per-day "
    "correlated subquery the formula replaces is O(days x events). "
    "Window-ends are restricted to days present in the data (semi-join "
    "on the tiny day set).",
    tags=("extension", "aggregate", "events"),
)
def _rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ud = events.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    days = ud.select("d").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("d"),
                F.col("d") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("w"),
    )
    return (
        contrib.join(F.broadcast(days), contrib["w"] == days["d"], "left_semi")
        .groupBy("w")
        .agg(F.count_distinct("user_id").alias("wau"))
        .select(F.col("w").alias("day"), "wau")
    )


@register(
    "fulfillment_latency_sla",
    """
    WITH lat AS (
        SELECT o.o_orderpriority,
               date_diff('day', o.o_orderdate, l.l_shipdate) AS days
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(MEDIAN(days), 4) AS p50_days,
           ROUND(quantile_cont(days, 0.9), 4) AS p90_days,
           ROUND(quantile_cont(days, 0.99), 4) AS p99_days,
           CAST(MAX(days) AS BIGINT) AS max_days
    FROM lat
    GROUP BY o_orderpriority
    """,
    doc="Fulfillment-latency SLA percentiles: order-date to ship-date in "
    "whole days, p50/p90/p99/max per order priority — the latency "
    "distribution every operations dashboard tracks, and the shape "
    "where means lie (a fat p99 hides behind a healthy average). "
    "Integer day diffs + the percentile_stats interpolation recipe "
    "(both engines interpolate linearly; 4dp round sits below the "
    "integer inputs' precision). One fact-fact equi-join and one "
    "map-side-combined aggregate.",
    tags=("extension", "aggregate", "join"),
)
def _fulfillment_latency_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    lat = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
    ).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").alias("days"),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.median("days"), 4).alias("p50_days"),
        F.round(F.percentile("days", F.lit(0.9)), 4).alias("p90_days"),
        F.round(F.percentile("days", F.lit(0.99)), 4).alias("p99_days"),
        F.max("days").cast("bigint").alias("max_days"),
    )


@register(
    "repeat_customer_rate",
    """
    WITH per_cust AS (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_custkey
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN p.n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repeat,
           ROUND(CAST(SUM(CASE WHEN p.n_orders >= 2 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 4) AS repeat_rate
    FROM per_cust p
    JOIN customer c ON c.c_custkey = p.o_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="Repeat-purchase rate per market segment — the retention KPI a "
    "revenue dashboard leads with: customers with >= 2 orders over "
    "ordering customers. Per-customer order counts partial-aggregate "
    "map-side, the segment lookup is a dimension join, and the final "
    "ratio is one exact integer division — a two-aggregate pipeline "
    "whose shuffles carry (key, count) pairs only.",
    tags=("extension", "aggregate", "join"),
)
def _repeat_customer_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    joined = per_cust.join(
        customer, per_cust["o_custkey"] == customer["c_custkey"]
    )
    repeat = F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        repeat.alias("n_repeat"),
        F.round(repeat.cast("double") / F.count(F.lit(1)), 4).alias(
            "repeat_rate"
        ),
    )


@register(
    "max_staleness_by_user",
    f"""
    WITH gaps AS (SELECT user_id, ts, {GAP_SECONDS_SQL} AS gap_s FROM events)
    SELECT user_id,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
           MAX(ts) AS last_seen
    FROM gaps
    GROUP BY user_id
    HAVING MAX(gap_s) IS NOT NULL
    """,
    doc="Per-key staleness report: each user's longest silence (max "
    "inter-event gap, integer seconds) and last-seen timestamp — the "
    "went-dark detector device-fleet and account-health monitoring run "
    "(a sensor whose max gap dwarfs its cadence has been dropping "
    "data). Single-event users have no gap and drop out (HAVING). One "
    "window shuffle on the key, then a map-side-combined max — the "
    "gap histogram's per-key drill-down over the same numbers.",
    tags=("extension", "window", "aggregate", "events"),
)
def _max_staleness_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    gaps = events.select("user_id", "ts", gap_seconds().alias("gap_s"))
    return (
        gaps.groupBy("user_id")
        .agg(
            F.max("gap_s").cast("bigint").alias("max_gap_s"),
            F.max("ts").alias("last_seen"),
        )
        .filter(F.col("max_gap_s").isNotNull())
    )


@register(
    "discount_band_quantity",
    """
    SELECT CASE WHEN l_discount < 0.02 THEN 'a_low'
                WHEN l_discount < 0.05 THEN 'b_mid'
                WHEN l_discount < 0.08 THEN 'c_high'
                ELSE 'd_deep' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(l_quantity), 2) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(l_extendedprice), 2) AS avg_price
    FROM lineitem
    GROUP BY 1
    """,
    doc="Discount-band mix: line counts and DECIMAL-exact mean quantity/"
    "price per literal discount band — the does-discounting-move-volume "
    "table a pricing review starts from (avg_qty flat across bands means "
    "the discount buys nothing). Literal band edges on a 2dp column "
    "never tie ambiguously; one map-side-combined aggregate, four rows "
    "at any scale.",
    tags=("extension", "aggregate"),
)
def _discount_band_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_discount") < 0.02, "a_low")
        .when(F.col("l_discount") < 0.05, "b_mid")
        .when(F.col("l_discount") < 0.08, "c_high")
        .otherwise("d_deep")
    )
    return lineitem.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
            / F.count("l_quantity"),
            2,
        ).alias("avg_qty"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / F.count("l_extendedprice"),
            2,
        ).alias("avg_price"),
    )
