"""Projections, filters, predicates, scalar functions, set ops — SURVEY.md
§2.2 / §2.6 / §2.7 / §2.8.

Each operator is a reusable function over DataFrames plus a registered,
oracle-checked query on the driver's synthetic tables. Everything stays in
built-in ``pyspark.sql.functions`` (JVM-side, whole-stage codegen); there is
no Python in any of these paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_data_infrastructure_spark.functions.money import money, sql_money
from full_data_infrastructure_spark.queries import register
from full_data_infrastructure_spark.sources.parquet import load_table

# ---------------------------------------------------------------------------
# Reusable operators
# ---------------------------------------------------------------------------


def masked_projection(
    df: DataFrame, masked_cols: list[str], role: str, masked_roles: tuple[str, ...]
) -> DataFrame:
    """P6 — row-level security masking (init-scripts/init-db.sql:74-89).

    The reference masks name columns to NULL for the BI role via a Postgres
    view on ``current_user``. Spark has no per-user session context, so the
    masked view is *parameterized by role*: the same projection, with the
    role decided at plan-build time (a literal, so Catalyst constant-folds
    the unmasked branch away entirely for non-BI roles).
    """
    is_masked = role in masked_roles
    out = df
    for c in masked_cols:
        out = out.withColumn(c, F.lit(None).cast(df.schema[c].dataType) if is_masked else F.col(c))
    return out


def membership_validation(
    df: DataFrame, col: str, allowed: list[str], error_template: str
) -> DataFrame:
    """P7 — membership predicate with error-message derivation
    (commute_validation.py:84-91): rows outside the allowed set are *kept*
    but flagged invalid with an error string, mirroring the reference's
    error-row semantics.  A NULL value is INVALID, not unknown — the
    reference's Python ``mode not in allowed`` treats None as a miss, and
    three-valued IN would let nulls slip through ``WHERE NOT
    is_member_valid`` silently — so the flag coalesces to FALSE and the
    message renders the null as the literal 'null' (pinned cross-engine
    by the null-injected parity sweep)."""
    ok = F.coalesce(F.col(col).isin(allowed), F.lit(False))
    return df.withColumn("is_member_valid", ok).withColumn(
        "error_message",
        F.when(ok, F.lit(None).cast("string")).otherwise(
            F.format_string(error_template, F.coalesce(F.col(col), F.lit("null")))
        ),
    )


def threshold_validation(
    df: DataFrame, limits: DataFrame, on: str, value_col: str, limit_col: str
) -> DataFrame:
    """P8/J4 — per-category threshold check against a limits lookup
    (commute_validation.py:15-18,109-112: 15 km walk / 25 km bike).

    The reference does a per-row Python dict lookup; here it's a broadcast
    join against the limits dimension — same semantics, fully distributed,
    zero shuffle on the fact side.
    """
    return df.join(F.broadcast(limits), on, "left").withColumn(
        "is_valid", F.col(value_col) <= F.col(limit_col)
    )


# ---------------------------------------------------------------------------
# Registered queries (driver synthetic tables)
# ---------------------------------------------------------------------------


@register(
    "select_prune_cast",
    """
    SELECT c_custkey,
           CAST(c_nationkey AS BIGINT) AS nation_id,
           ROUND(CAST(c_acctbal AS DOUBLE), 2) AS salary
    FROM customer
    """,
    doc="P4 column pruning + P5/F3 casts (read_delta.py:261,150-159). The "
    "projection reaches the parquet scan (ReadSchema prunes to 3 cols).",
    tags=("reference", "projection"),
)
def _select_prune_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.col("c_nationkey").cast("bigint").alias("nation_id"),
        F.round(F.col("c_acctbal").cast("double"), 2).alias("salary"),
    )


@register(
    "masked_projection",
    """
    SELECT c_custkey,
           CAST(NULL AS VARCHAR) AS c_name,
           c_mktsegment
    FROM customer
    """,
    doc="P6 row-level masking view (init-db.sql:74-89) for the BI role.",
    tags=("reference", "projection", "security"),
)
def _masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return masked_projection(
        customer, ["c_name"], role="sportadvantagebiuser", masked_roles=("sportadvantagebiuser",)
    )


@register(
    "membership_validation",
    """
    SELECT c_custkey,
           c_mktsegment,
           COALESCE(c_mktsegment IN ('AUTOMOBILE', 'BUILDING'), FALSE)
               AS is_member_valid,
           CASE WHEN COALESCE(c_mktsegment IN ('AUTOMOBILE', 'BUILDING'), FALSE)
                THEN NULL
                ELSE 'Invalid transport mode: '
                     || COALESCE(c_mktsegment, 'null')
           END AS error_message
    FROM customer
    """,
    doc="P7 membership predicate + error column (commute_validation.py:84-91). "
    "NULL values flag invalid (coalesced three-valued IN), never unknown.",
    tags=("reference", "predicate"),
)
def _membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return membership_validation(
        customer, "c_mktsegment", ["AUTOMOBILE", "BUILDING"], "Invalid transport mode: %s"
    )


@register(
    "threshold_validation",
    """
    WITH limits(c_mktsegment, bal_limit) AS (
        VALUES ('AUTOMOBILE', CAST(5000 AS DOUBLE)),
               ('BUILDING',   CAST(2500 AS DOUBLE)),
               ('MACHINERY',  CAST(7500 AS DOUBLE))
    )
    SELECT c.c_custkey,
           c.c_mktsegment,
           ROUND(c.c_acctbal, 2) AS c_acctbal,
           l.bal_limit,
           c.c_acctbal <= l.bal_limit AS is_valid
    FROM customer c
    LEFT JOIN limits l USING (c_mktsegment)
    """,
    doc="P8/J4 per-category threshold vs broadcast limits lookup "
    "(commute_validation.py:15-18,109-112). NULL limit for unknown "
    "categories => NULL is_valid, like the reference's invalid-mode rows.",
    tags=("reference", "predicate", "join"),
)
def _threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    limits = spark.createDataFrame(
        [("AUTOMOBILE", 5000.0), ("BUILDING", 2500.0), ("MACHINERY", 7500.0)],
        "c_mktsegment string, bal_limit double",
    )
    out = threshold_validation(
        customer.select("c_custkey", "c_mktsegment", "c_acctbal"),
        limits,
        on="c_mktsegment",
        value_col="c_acctbal",
        limit_col="bal_limit",
    )
    return out.select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        "bal_limit",
        "is_valid",
    )


@register(
    "notnull_filter",
    """
    SELECT o_orderkey,
           NULLIF(o_orderpriority, '1-URGENT') AS comment
    FROM orders
    WHERE NULLIF(o_orderpriority, '1-URGENT') IS NOT NULL
    """,
    doc="P3/P9 not-null filter (SaveDelta.scala:149; slack_notification.py:"
    "121-124) — drops malformed/uncommented rows. Synthetic data has no "
    "nulls, so NULLIF manufactures them deterministically.",
    tags=("reference", "predicate"),
)
def _notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    with_comment = orders.select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("comment"),
    )
    return with_comment.filter(F.col("comment").isNotNull())


@register(
    "json_extract",
    """
    SELECT event_id,
           CAST(props->>'$.k' AS INTEGER) AS k,
           event_type
    FROM events
    WHERE CAST(props->>'$.k' AS INTEGER) IS NOT NULL
    """,
    doc="F1/F13/P10 JSON field extraction + typed cast + structural validity "
    "filter (SaveDelta.scala:140-147; slack_notification.py:51-59).",
    tags=("reference", "json"),
)
def _json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return events.select("event_id", k.alias("k"), "event_type").filter(
        F.col("k").isNotNull()
    )


@register(
    "case_flag_arithmetic",
    f"""
    SELECT o_orderkey,
           ROUND(o_totalprice, 2) AS o_totalprice,
           CAST(CASE WHEN o_orderstatus = 'F'
                     THEN ROUND({sql_money('o_totalprice')}
                                * CAST('0.05' AS DECIMAL(6,4)), 2)
                     ELSE CAST('0.00' AS DECIMAL(18,2)) END AS DOUBLE)
               AS commute_prime,
           CAST({sql_money('o_totalprice')}
                + CASE WHEN o_orderstatus = 'F'
                       THEN ROUND({sql_money('o_totalprice')}
                                  * CAST('0.05' AS DECIMAL(6,4)), 2)
                       ELSE CAST('0.00' AS DECIMAL(18,2)) END AS DOUBLE)
               AS total_salary,
           o_totalprice >= 100000 AS is_large
    FROM orders
    """,
    doc="F4/F5/F7/P11/A6 — CASE/ROUND/arithmetic benefit computation "
    "(README.md:141-164 Superset SQL); money math in exact DECIMAL "
    "(functions/money.py rationale).",
    tags=("reference", "scalar"),
)
def _case_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    prime = F.when(
        F.col("o_orderstatus") == "F",
        F.round(money("o_totalprice") * F.lit("0.05").cast("decimal(6,4)"), 2),
    ).otherwise(F.lit("0.00").cast("decimal(18,2)"))
    return orders.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        prime.cast("double").alias("commute_prime"),
        (money("o_totalprice") + prime).cast("double").alias("total_salary"),
        (F.col("o_totalprice") >= 100000).alias("is_large"),
    )


@register(
    "date_format_concat",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_day,
           strftime(o_orderdate, '%Y-%m') AS order_month,
           concat_ws(' | ', o_orderpriority, o_orderstatus) AS label
    FROM orders
    """,
    doc="F8/F10 date formatting + string concat (sport_generation.py:198; "
    "commute_validation.py:112 f-strings). concat_ws on BOTH sides: the "
    "label skips NULL parts instead of || null-propagating the whole "
    "string away (pinned by the null-injected parity sweep).",
    tags=("reference", "scalar"),
)
def _date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.concat_ws(" | ", "o_orderpriority", "o_orderstatus").alias("label"),
    )


@register(
    "ordered_limit",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="O1/O2 top-k: ORDER BY ... LIMIT => TakeOrderedAndProject (no full "
    "sort; per-partition heaps + driver merge — scale-safe).",
    tags=("reference", "limit"),
)
def _ordered_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "set_union_except_intersect",
    """
    WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000),
         fin AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    SELECT 'union' AS op, COUNT(*) AS n FROM (SELECT * FROM hi UNION SELECT * FROM fin)
    UNION ALL
    SELECT 'intersect' AS op, COUNT(*) AS n
    FROM (SELECT * FROM hi INTERSECT SELECT * FROM fin)
    UNION ALL
    SELECT 'except' AS op, COUNT(*) AS n
    FROM (SELECT * FROM hi EXCEPT SELECT * FROM fin)
    """,
    doc="§2.7 set operations (absent in reference; engine SQL surface).",
    tags=("extension", "setop"),
)
def _set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 200000).select("o_custkey")
    fin = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")

    def counted(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        counted(hi.union(fin).distinct(), "union")
        .union(counted(hi.distinct().intersect(fin.distinct()), "intersect"))
        .union(counted(hi.distinct().exceptAll(fin.distinct()), "except"))
    )


@register(
    "distinct_projection",
    """
    SELECT DISTINCT c_mktsegment, c_nationkey
    FROM customer
    """,
    doc="Distinct projection (engine surface; Catalyst rewrites to aggregate).",
    tags=("extension", "distinct"),
)
def _distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


def pseudonymize(df: DataFrame, cols: list[str], key: str) -> DataFrame:
    """Keyed, join-consistent pseudonymization: each listed column is
    replaced by a token derived from md5(key || value) — the SAME value
    always maps to the SAME token (joins and GROUP BYs on the column keep
    working across tables and runs), while the value itself never leaves
    the cluster. The other half of the privacy surface next to
    masked_projection (which nulls) and pii_redact (which strips): masking
    destroys analytics, pseudonymization preserves them. Rotating ``key``
    re-keys the corpus — the GDPR re-identification control. Pure
    projection: no shuffle, stays in whole-stage codegen."""
    out = df
    for c in cols:
        out = out.withColumn(
            c,
            F.concat(
                F.lit("tok_"),
                F.substring(F.md5(F.concat(F.lit(key + ":"), F.col(c))), 1, 16),
            ),
        )
    return out


@register(
    "pseudonymize_customers",
    """
    SELECT c_custkey,
           'tok_' || substr(md5('k2026:' || c_name), 1, 16) AS c_name,
           c_mktsegment
    FROM customer
    """,
    doc="Keyed join-consistent pseudonymization of customer names (P6's "
    "analytics-preserving sibling): token = md5(secret_key || value) "
    "prefix, so equal names tokenize equally across every table and run "
    "(joinability/grouping preserved) while the raw value never appears "
    "downstream; rotating the key re-keys the corpus. Both engines "
    "compute identical lowercase-hex md5, so the projection is "
    "oracle-checked bit-for-bit. Zero-shuffle projection.",
    tags=("extension", "projection", "security"),
)
def _pseudonymize_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return pseudonymize(customer, ["c_name"], key="k2026")
