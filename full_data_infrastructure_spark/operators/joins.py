"""Joins — SURVEY.md §2.3, plus the semi/anti/as-of/range extensions.

Scale notes (100 TB): every join here is either (a) broadcast — dimension
tables (region/nation/limits/ranges) never shuffle the fact side — or
(b) keyed on a high-cardinality column so the shuffle partitions evenly,
with AQE skew-join splitting as the backstop. The as-of join is implemented
as union + ordered window (one shuffle, linear state) instead of the naive
range cross-join, which would be quadratic per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from full_data_infrastructure_spark.functions.money import (
    money,
    money_sum,
    sql_money_sum,
)
from full_data_infrastructure_spark.operators.windows import session_seq, session_seq_sql
from full_data_infrastructure_spark.queries import register
from full_data_infrastructure_spark.sources.parquet import load_table


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    right_value_cols: list[str],
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right.ts <= left.ts`` per key. Spark lacks a native ASOF JOIN; the
    scalable composition is union + last(ignorenulls) over an ordered
    window — one shuffle on the key, O(1) running state, no range
    cross-join blowup.

    The right side must be unique per (key, ts); pre-dedup for determinism.
    """
    l_tagged = left.withColumn("_side", F.lit(1))
    r_tagged = right.withColumn("_side", F.lit(0))
    for c in l_tagged.columns:
        if c not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(l_tagged.schema[c].dataType))
    for c in r_tagged.columns:
        if c not in l_tagged.columns:
            l_tagged = l_tagged.withColumn(c, F.lit(None).cast(r_tagged.schema[c].dataType))
    unioned = l_tagged.select(r_tagged.columns).unionByName(r_tagged)

    # Right rows sort before left rows at equal ts => "at or before" semantics.
    w = (
        Window.partitionBy(on)
        .orderBy(ts, "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Carry ONE last(ignorenulls) over a struct of ALL right value columns:
    # per-column carries would let a NULL in one column of the matched right
    # row fall back to an older right row for that column only, mixing
    # columns from different right matches in one output row. The struct is
    # NULL on left rows (a struct of NULLs is itself non-null, so it must be
    # built conditionally) and non-null exactly on right rows.
    r_img = F.when(
        F.col("_side") == 0, F.struct(*[F.col(c) for c in right_value_cols])
    )
    carried = unioned.withColumn("_r_img", r_img).select(
        "*", F.last("_r_img", ignorenulls=True).over(w).alias("_asof")
    )
    out = carried.filter(F.col("_side") == 1)
    for c in right_value_cols:
        out = out.drop(c).withColumn(c, F.col(f"_asof.{c}"))
    return out.drop("_side", "_r_img", "_asof")


@register(
    "join_dim_snowflake",
    """
    SELECT r.r_name AS region, n.n_name AS nation, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    doc="J5/S15 federated multi-catalog join re-expressed: one SparkSession "
    "joining fact + two dims (Trino delta x postgresql capability, "
    "README.md:264-266). Both dims broadcast — the fact never shuffles "
    "for the join, only for the final aggregate.",
    tags=("reference", "join", "aggregate"),
)
def _snowflake(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_sum("c_acctbal").alias("total_bal"),
        )
    )


@register(
    "semi_join",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000)
    """,
    doc="Left-semi join (§2.3 noted gap): customers having a large order. "
    "Semi joins ship only the key column and stop at first match.",
    tags=("extension", "join"),
)
def _semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


@register(
    "anti_join",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left-anti join (§2.3 noted gap): customers with zero orders — the "
    "set the reference's left join (J2) preserves as nulls.",
    tags=("extension", "join"),
)
def _anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


@register(
    "cte_self_join",
    """
    WITH prime AS (
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'F'
                    THEN ROUND(CAST(o_totalprice AS DECIMAL(18,2))
                               * CAST('0.05' AS DECIMAL(6,4)), 2)
                    ELSE CAST('0.00' AS DECIMAL(18,2)) END AS commute_prime
        FROM orders
    )
    SELECT o.o_orderkey,
           ROUND(o.o_totalprice, 2) AS o_totalprice,
           CAST(p.commute_prime AS DOUBLE) AS commute_prime,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) + p.commute_prime AS DOUBLE)
               AS total_salary
    FROM orders o
    JOIN prime p ON o.o_orderkey = p.o_orderkey
    """,
    doc="J3 — the Superset CTE self-join shape (README.md:141-164), kept "
    "as-written to preserve the reference's SQL surface even though the "
    "join is semantically a projection.",
    tags=("reference", "join"),
)
def _cte_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    prime = orders.select(
        "o_orderkey",
        F.when(
            F.col("o_orderstatus") == "F",
            F.round(money("o_totalprice") * F.lit("0.05").cast("decimal(6,4)"), 2),
        )
        .otherwise(F.lit("0.00").cast("decimal(18,2)"))
        .alias("commute_prime"),
    )
    return (
        orders.alias("o")
        .join(prime.alias("p"), "o_orderkey")
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.col("commute_prime").cast("double").alias("commute_prime"),
            (money("o_totalprice") + F.col("commute_prime"))
            .cast("double")
            .alias("total_salary"),
        )
    )


@register(
    "asof_join",
    """
    WITH p AS (
        SELECT user_id, ts, event_id AS p_event_id, value
        FROM (
            SELECT user_id, ts, event_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'purchase'
        ) WHERE rn = 1
    ),
    c AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, p.p_event_id,
           ROUND(p.value, 2) AS p_value
    FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    doc="As-of join (extension; absent in reference, core for event "
    "pipelines): each click matched to the user's latest purchase at or "
    "before it. Union+window implementation — one shuffle, no range "
    "explosion; oracle uses DuckDB's native ASOF JOIN.",
    tags=("extension", "join", "asof"),
)
def _asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase")
    dedup_w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    purchases = (
        purchases.withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "ts", F.col("event_id").alias("p_event_id"), F.col("value").alias("p_value")
        )
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(
        clicks, purchases, on="user_id", ts="ts", right_value_cols=["p_event_id", "p_value"]
    )
    return joined.select(
        "event_id", "user_id", "p_event_id", F.round("p_value", 2).alias("p_value")
    )


@register(
    "range_join",
    """
    WITH ranges(lo, hi, label) AS (
        VALUES (CAST(0 AS DOUBLE),   CAST(25 AS DOUBLE),  'low'),
               (CAST(25 AS DOUBLE),  CAST(75 AS DOUBLE),  'mid'),
               (CAST(75 AS DOUBLE),  CAST(1e9 AS DOUBLE), 'high')
    )
    SELECT e.event_id, r.label
    FROM events e
    LEFT JOIN ranges r ON e.value >= r.lo AND e.value < r.hi
    """,
    doc="Range (band) join against a literal dimension (extension): value "
    "bucketing via interval containment. Broadcast nested-loop on a 3-row "
    "dim — O(n) at any scale.",
    tags=("extension", "join", "range"),
)
def _range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    ranges = spark.createDataFrame(
        [(0.0, 25.0, "low"), (25.0, 75.0, "mid"), (75.0, 1e9, "high")],
        "lo double, hi double, label string",
    )
    cond = (events.value >= ranges.lo) & (events.value < ranges.hi)
    return events.join(F.broadcast(ranges), cond, "left").select("event_id", "label")


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: salt the (skewed) fact side, replicate the
    dimension side once per salt.

    When one join key holds a large share of the fact rows (a "hot" key), a
    plain shuffle join sends that whole key to ONE reducer — at 100 TB a
    single straggler task. Salting splits each key across ``n_salts``
    reducers: the fact side gets a deterministic per-row salt, the dim side
    is exploded x n_salts, and the join key becomes (key, salt). Cost: the
    dim side is duplicated n_salts times — only appropriate when the dim is
    small-but-over-broadcast-threshold or when AQE skew splitting
    (spark.sql.adaptive.skewJoin, on in session.py) is unavailable, e.g.
    for a stateful/streaming join where AQE cannot replan.

    The salt is a hash of the whole fact row (deterministic, no rand()), so
    results are stable across retries — a correctness requirement under
    task re-execution.
    """
    fact_salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in facts.columns]), F.lit(n_salts)
    ).cast("int")
    salted_facts = facts.withColumn("_salt", fact_salt)
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted_facts.join(salted_dim, [on, "_salt"], how).drop("_salt")


@register(
    "runtime_filtered_join",
    f"""
    SELECT l.l_returnflag,
           COUNT(*) AS n,
           {sql_money_sum('l.l_extendedprice')} AS sum_price
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'F'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    doc="Selective-dimension fact join in the shape Catalyst's runtime "
    "row-level filtering (InjectRuntimeFilter, Spark 3.3+) accelerates: "
    "when the filtered orders side is too big to broadcast, the optimizer "
    "builds a bloom filter over its join keys and semi-filters the "
    "lineitem scan BEFORE the shuffle, so non-matching fact rows never "
    "cross an exchange — the runtime twin of static partition pruning. "
    "The builder stays fully declarative (no hints); "
    "tests/test_plans.py::test_runtime_bloom_filter_injection pins the "
    "injection (might_contain on the fact scan) in the no-broadcast "
    "regime a 100 TB join runs in.",
    tags=("extension", "join"),
)
def _runtime_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderstatus") == "F")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum("l_extendedprice").alias("sum_price"),
        )
        .orderBy("l_returnflag")
    )


def count_triangles(edges: DataFrame) -> DataFrame:
    """One (n_edges, n_triangles) row for a canonical u < v edge set.

    Degree-ordered orientation (Suri & Vassilvitskii): every edge points
    from its lower-(degree, id) endpoint to the higher, so each triangle
    forms exactly one wedge — at its orientation-minimal vertex — and
    per-vertex wedge fan-out is bounded by out-degree, which orientation
    caps at O(sqrt(edges)) regardless of hub degree.
    """
    from full_data_infrastructure_spark.cache import tracked_persist

    edges = tracked_persist(edges)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = edges.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    # One wedge per triangle at its orientation-minimal vertex; the plain
    # id inequality on the two far endpoints dedups the {y, z} pair, and
    # the closure probe against the canonical u < v edge set needs no
    # direction case-split because dst1 < dst2 already.
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (F.col("w1.dst") < F.col("w2.dst")),
    ).select(F.col("w1.dst").alias("y"), F.col("w2.dst").alias("z"))
    triangles = wedges.join(
        edges, (F.col("u") == F.col("y")) & (F.col("v") == F.col("z"))
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_edges.crossJoin(triangles)


@register(
    "triangle_count_parts",
    """
    WITH edges AS (
        SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                        GREATEST(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
    JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
    """,
    doc="Distributed triangle counting over the part co-purchase graph "
    "(parts appearing in the same order are linked): the canonical "
    "multi-way self-join graph analytic, implemented with the "
    "degree-ordered orientation of Suri & Vassilvitskii's MR triangle "
    "counting so it survives skew at scale. Each undirected edge is "
    "oriented from its lower-(degree, id) endpoint to the higher; every "
    "triangle then forms EXACTLY one wedge, at its orientation-minimal "
    "vertex, and the wedge-generation join fans out per-vertex by "
    "out-degree, which orientation bounds by O(sqrt(edges)) even when a "
    "hub part appears in half the orders (an unoriented wedge join "
    "squares the hub's full degree). The oracle counts the same "
    "triangles without orientation — a three-way join DuckDB can afford "
    "at sf0.01 — so the hash match proves the oriented plan loses and "
    "invents nothing. Both engines emit one (n_edges, n_triangles) row.",
    tags=("extension", "join", "aggregate"),
)
def _triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    # Co-partitioned self-join on the order key (per-order line counts are
    # small and bounded), canonicalized u < v, deduplicated. Persisted in
    # the kernel: it feeds the degree count, both wedge sides, and the
    # closure probe.
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .distinct()
    )
    return count_triangles(edges)


def masked_variants(name_col: str) -> "F.Column":
    """All single-position masks of a string: position i replaced by a
    sentinel char. Two equal-length strings within Hamming distance 1
    share at least one mask (the differing position, or all of them when
    identical) — the SymSpell-style neighborhood-blocking key for exact
    edit-distance-1 candidate generation without an N^2 comparison."""
    return F.expr(
        f"transform(sequence(1, length({name_col})), "
        f"i -> concat(substring({name_col}, 1, i-1), '\\u0001', "
        f"substring({name_col}, i+1)))"
    )


def fuzzy_match(
    clean: DataFrame,
    dirty: DataFrame,
    key: str,
    dirty_key: str,
    name: str = "name",
) -> DataFrame:
    """Entity resolution at edit distance <= 1 via neighborhood blocking +
    exact verify: explode
    each side's single-position masks, equi-join on the mask (candidates
    = strings within Hamming 1, a few rows per entity), then verify with
    the exact levenshtein. At 100 TB the mask join is n x L rows shuffled
    on an equi-key — never the same-length cross product a naive
    lev-threshold join degenerates to (TPC-H names share one length, so
    THAT blocking is the full N^2).

    The blocking is exact ONLY for edit distance <= 1 on equal-length
    strings: single-position masks cannot reach a pair two substitutions
    apart, so a larger radius would silently drop qualifying pairs the
    blocking never generates; it needs deletion-neighborhood keys of that
    depth."""
    c = clean.select(
        F.col(key).alias("clean_key"),
        F.col(name).alias("clean_name"),
        F.explode(masked_variants(name)).alias("mask"),
    )
    d = dirty.select(
        F.col(dirty_key).alias("dirty_key"),
        F.col(name).alias("dirty_name"),
        F.explode(masked_variants(name)).alias("mask"),
    )
    return (
        c.join(d, "mask")
        .select("clean_key", "dirty_key", "clean_name", "dirty_name")
        .distinct()
        .withColumn("lev", F.levenshtein("clean_name", "dirty_name"))
        .filter(F.col("lev") <= 1)
        .select("clean_key", "dirty_key", F.col("lev").cast("bigint").alias("lev"))
    )


@register(
    "fuzzy_match_suppliers",
    """
    WITH corrupted AS (
        SELECT s_suppkey AS dirty_key,
               concat(substr(s_name, 1, (1 + s_suppkey % length(s_name)) - 1),
                      'x',
                      substr(s_name, (1 + s_suppkey % length(s_name)) + 1))
                   AS s_name
        FROM supplier
    )
    SELECT a.s_suppkey AS clean_key,
           c.dirty_key,
           CAST(levenshtein(a.s_name, c.s_name) AS BIGINT) AS lev
    FROM supplier a
    JOIN corrupted c
      ON length(a.s_name) = length(c.s_name)
     AND levenshtein(a.s_name, c.s_name) <= 1
    """,
    doc="Fuzzy entity-resolution join: supplier names are deterministically "
    "corrupted (one character overwritten at a key-derived position — the "
    "typo/OCR-noise shape record linkage sees) and matched back to the "
    "clean table at levenshtein <= 1. The engine blocks via SymSpell-style "
    "single-position masks (explode n x L mask keys, equi-join, exact "
    "verify), so candidate volume is per-entity-bounded; the oracle is "
    "the naive same-length cross filter, which on TPC-H names (ALL one "
    "length, shared 'Supplier#' prefix — a worst case for cheap blocking) "
    "is the full N^2 the blocked plan exists to avoid. The hash match "
    "proves blocking loses no pair: equal-length lev<=1 implies Hamming "
    "<=1 implies a shared mask.",
    tags=("extension", "join"),
)
def _fuzzy_match_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    corrupted = supplier.select(
        F.col("s_suppkey").alias("dirty_key"),
        F.concat(
            F.expr("substring(s_name, 1, (1 + s_suppkey % length(s_name)) - 1)"),
            F.lit("x"),
            F.expr("substring(s_name, (1 + s_suppkey % length(s_name)) + 1)"),
        ).alias("s_name"),
    )
    return fuzzy_match(
        supplier, corrupted, key="s_suppkey", dirty_key="dirty_key", name="s_name"
    )

SQL_REVENUE = (
    "ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) "
    "AS DOUBLE), 2)"
)


def revenue_sum() -> "F.Column":
    """Exact-decimal discounted revenue: SUM(price * (1 - discount)) with
    both operands cast to DECIMAL(18,2) first, so the product and the sum
    are exact and the one double cast + 2dp round is cross-engine
    deterministic (functions/money.py rationale)."""
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    return F.round(F.sum(price * disc).cast("double"), 2)


@register(
    "tpch_q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {SQL_REVENUE} AS revenue,
           o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 (shipping priority) adapted to the synthetic schema: "
    "segment-filtered customer x orders x lineitem, discounted-revenue "
    "top-10 of unshipped-as-of-date orders. The canonical selective "
    "fact-to-fact join: both date filters push to the parquet scans, the "
    "segment filter prunes customer BEFORE the join, revenue is the "
    "exact-decimal money pattern, and the top-10 compiles to "
    "TakeOrderedAndProject (per-partition heaps), never a global sort.",
    tags=("extension", "join", "aggregate"),
)
def _tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue_sum().alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_region_volume",
    f"""
    SELECT n_name,
           {SQL_REVENUE} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5 (local supplier volume) adapted to the synthetic schema: "
    "the six-way join — customer x orders x lineitem x supplier x nation "
    "x region with the local-supplier correlation (c_nationkey = "
    "s_nationkey) — that exercises join ORDER at scale: region/nation/"
    "supplier broadcast, the date range prunes orders at the scan, and "
    "the only shuffles left are the two fact joins. Catalyst derives all "
    "of that from the declarative plan; the correlated equality arrives "
    "as a join condition, not a post-filter.",
    tags=("extension", "join", "aggregate"),
)
def _tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(revenue_sum().alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


PAGERANK_ITERATIONS = 3


def pagerank(edges_undirected: DataFrame) -> DataFrame:
    """Distributed PageRank (damping 0.85, PAGERANK_ITERATIONS rounds) over a
    canonical u < v edge set, cross-engine deterministic: per-edge
    contributions rank/degree are quantized to integer 1e-12 units via
    ``floor(r/d * 1e12 + 0.5)`` — division, multiply, add, floor are each a
    single IEEE operation with one correctly-rounded result, so both engines
    produce the identical BIGINT — and summed exactly as BIGINT, making the
    only float-order-sensitive reduction in the algorithm exact. (The first
    cut rounded the double to 12dp with ROUND(), breaking the engine's
    own never-ROUND-a-double rule: Spark and DuckDB disagree on decimal
    ties of a binary double, which surfaced as last-unit contribution
    drift at sf0.1 — 20x the edges finally landed on ties that sf0.01
    never hit.) Symmetrizing the edges leaves no dangling nodes.

    Scale design: degree is pre-joined into the edge table ONCE and the
    result persisted already hash-partitioned on ``src``, at the session's
    shuffle width, so every iteration's propagation join reuses that
    layout — only the node-sized rank table moves per iteration, never
    the edges (the naive form re-shuffled the full edge table AND
    recomputed the degree aggregate every iteration; at sf0.1 this cut
    the benched time 4.5s -> 2.7s, bit-identical output, and at 100 TB it
    is the difference between one edge shuffle total and one per
    iteration). Each iteration is then one equi-join plus a
    map-side-combinable sum; rank state is node-sized and the plan
    repeats linearly per iteration (no driver actions; production runs
    just raise PAGERANK_ITERATIONS)."""
    from full_data_infrastructure_spark.cache import tracked_persist

    pairs = edges_undirected
    sym = pairs.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # A fixed width, not repartition("src"): AQE coalesces the final
    # stage of a persisted plan (session.py), and a coalesced cache no
    # longer matches the width of the rank side's shuffle, so every
    # iteration's join would re-shuffle the edges. AQE never coalesces
    # a repartition that names its partition count.
    width = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    edges_deg = tracked_persist(sym.join(deg, "src").repartition(width, "src"))
    # The node set and its 1-row count are PERSISTED: n_df is broadcast
    # into r0 and into every iteration's rank
    # update, and without the persist each of those four broadcasts
    # re-ran the distinct + count aggregation over the edge table — three
    # redundant corpus passes for one scalar. Both caches are node-sized
    # or smaller, the same budget the rank state itself needs.
    nodes = tracked_persist(edges_deg.select("src").distinct())
    n_df = tracked_persist(
        nodes.agg(F.count(F.lit(1)).cast("double").alias("n_nodes"))
    )
    ranks = (
        nodes.select(F.col("src").alias("node"))
        .crossJoin(F.broadcast(n_df))
        .select("node", (F.lit(1.0) / F.col("n_nodes")).alias("r"))
    )
    for _ in range(PAGERANK_ITERATIONS):
        contrib = (
            # SHUFFLE_HASH on the node-sized rank side: the statically
            # planned alternative is a sort-merge join that re-SORTS the
            # persisted edge table every iteration (guide §3.1 — pick the
            # strategy deliberately). Building a hash table from the rank
            # rows per partition and streaming the edges does the same
            # join sort-free; ranks is always the smaller side (one row
            # per node vs one per directed edge).
            edges_deg.join(
                ranks.hint("shuffle_hash"), edges_deg["src"] == ranks["node"]
            )
            .select(
                "dst",
                # floor(double) is LONG in Spark; exact integer, < 2^53.
                F.floor(
                    F.col("r") / F.col("d") * F.lit(1e12) + F.lit(0.5)
                ).alias("c"),
            )
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .crossJoin(F.broadcast(n_df))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(0.15) / F.col("n_nodes")
                    + F.lit(0.85) * (F.col("s").cast("double") / F.lit(1e12))
                ).alias("r"),
            )
        )
    return ranks.select(F.col("node").alias("part"), F.col("r").alias("pagerank"))


@register(
    "pagerank_parts",
    """
    WITH pairs AS (
        SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                        GREATEST(a.l_partkey, b.l_partkey) AS v
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
        SELECT u AS src, v AS dst FROM pairs
        UNION ALL
        SELECT v AS src, u AS dst FROM pairs
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM deg),
    r0 AS (SELECT src AS node, 1.0 / n.n_nodes AS r FROM deg CROSS JOIN n),
    it1 AS (
        SELECT dst AS node, 0.15 / n.n_nodes + 0.85 * (CAST(s AS DOUBLE) / 1e12) AS r
        FROM (SELECT e.dst, SUM(CAST(FLOOR(p.r / d.d * 1e12 + 0.5) AS BIGINT)) AS s
              FROM edges e JOIN r0 p ON p.node = e.src JOIN deg d ON d.src = e.src
              GROUP BY e.dst) CROSS JOIN n
    ),
    it2 AS (
        SELECT dst AS node, 0.15 / n.n_nodes + 0.85 * (CAST(s AS DOUBLE) / 1e12) AS r
        FROM (SELECT e.dst, SUM(CAST(FLOOR(p.r / d.d * 1e12 + 0.5) AS BIGINT)) AS s
              FROM edges e JOIN it1 p ON p.node = e.src JOIN deg d ON d.src = e.src
              GROUP BY e.dst) CROSS JOIN n
    ),
    it3 AS (
        SELECT dst AS node, 0.15 / n.n_nodes + 0.85 * (CAST(s AS DOUBLE) / 1e12) AS r
        FROM (SELECT e.dst, SUM(CAST(FLOOR(p.r / d.d * 1e12 + 0.5) AS BIGINT)) AS s
              FROM edges e JOIN it2 p ON p.node = e.src JOIN deg d ON d.src = e.src
              GROUP BY e.dst) CROSS JOIN n
    )
    SELECT node AS part, r AS pagerank FROM it3
    """,
    doc="PageRank over the part co-purchase graph (3 damped iterations, "
    "completing the graph-analytics trio with two-star connected "
    "components and degree-oriented triangles): rank propagation as "
    "edge-keyed joins + map-side-combinable per-node sums, with every "
    "contribution quantized to integer 1e-12 units by pure IEEE ops "
    "(floor(r/d * 1e12 + 0.5)) and summed as BIGINT so the one "
    "order-sensitive float reduction is exact — both engines run the "
    "identical IEEE expression sequence and the hash must match "
    "bit-for-bit at ANY scale (the earlier ROUND(double,12) form "
    "diverged on decimal ties once sf0.1's edge count hit them). The "
    "oracle unrolls the same three iterations as CTEs "
    "(the embedding_kmeans oracle pattern). At 100 TB: edges persist "
    "once, rank state is node-sized, per-iteration cost is one shuffle.",
    tags=("extension", "join", "aggregate"),
    exact_float_cols=("pagerank",),
)
def _pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    return pagerank(pairs)


@register(
    "session_overlap_pairs",
    f"""
    WITH bounds AS (
        SELECT user_id, session_seq AS seq, MIN(ts) AS s, MAX(ts) AS e
        FROM {session_seq_sql()} sess GROUP BY user_id, session_seq
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           CAST(COUNT(*) AS BIGINT) AS n_concurrent
    FROM bounds a
    JOIN bounds b
      ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
    GROUP BY a.user_id, b.user_id
    """,
    doc="Interval-OVERLAP join (the join kind range_join's point-in-range "
    "doesn't cover): which users' 30-minute-gap sessions were concurrent, "
    "and how often — co-presence detection. The engine bins each session "
    "to its covered day buckets (sessions are short, so 1-2 buckets each) "
    "and equi-joins on the bucket before the exact overlap verify "
    "(a.s <= b.e AND b.s <= a.e), deduplicating pairs that share two "
    "buckets — candidate volume is per-bin-bounded where the naive "
    "interval theta join the ORACLE runs is O(n^2): the hash match "
    "proves banding loses no pair (overlapping intervals always share "
    "the day bucket of any common instant).",
    tags=("extension", "join", "session", "events"),
)
def _session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from full_data_infrastructure_spark.cache import tracked_persist

    events = load_table(spark, sf_dir, "events")
    sess = events.select("user_id", "ts", session_seq().alias("seq"))
    bounds = sess.groupBy("user_id", "seq").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    binned = tracked_persist(
        bounds.select(
            "user_id",
            "seq",
            "s",
            "e",
            F.explode(
                F.sequence(
                    F.date_trunc("day", "s"),
                    F.date_trunc("day", "e"),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("bin"),
        )
    )
    a, b = binned.alias("a"), binned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bin") == F.col("b.bin"))
            & (F.col("a.user_id") < F.col("b.user_id"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("a.seq").alias("seq_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("b.seq").alias("seq_b"),
        )
        .distinct()
    )
    return pairs.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).alias("n_concurrent")
    )
