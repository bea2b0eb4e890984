"""The flagship benefits pipeline — the reference's two headline queries as ONE
lazy DataFrame chain.

Re-expresses, on the driver's synthetic tables:

* the batch join job ``airflow/config/read_delta.py:234-294``:
  activity aggregation (groupBy + count/avg, ``read_delta.py:123-127``),
  inner equi-join employees x validations (``:280``), left join with the
  aggregate (``:285``);
* the Superset benefits SQL ``README.md:141-164``: the ``prime`` CTE
  (``CASE WHEN is_valid THEN ROUND(salary*0.05,2) ELSE 0``), the
  ``count_activity >= N`` flag, and ``total_salary``.

Table mapping (FIXTURES.md §2): customer=employees (c_acctbal=gross_salary,
c_mktsegment=business_unity), orders=commute_validations (o_orderstatus='F'
plays is_valid), lineitem=sport_activities aggregated per order.

Differences from the reference are deliberate Spark-first choices:

* ONE lazy chain, one action — the reference forces ~8 jobs with
  ``.count()/.show()`` after every stage (SURVEY.md §3.2);
* the dimension side is explicitly ``broadcast()`` — at 100 TB the fact
  (lineitem) never shuffles for these joins; the pre-aggregation (A1) is the
  only shuffle, and it map-side combines;
* the redundant self-join of the Superset query (``final JOIN prime`` on the
  same table) is kept available as a SQL-surface query (``cte_self_join`` in
  queries.py) but the flagship computes prime as a projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_data_infrastructure_spark.functions.money import (
    money,
    money_avg,
    sql_money_avg,
)
from full_data_infrastructure_spark.sources.parquet import load_table

# Superset SQL README.md:157-160 flags >= 15 activities; synthetic lineitem
# has 1-7 lines per order, so the analogous threshold is 4.
MIN_VALID_ACTIVITIES = 4
PRIME_RATE = 0.05


def activity_aggregate(lineitem: DataFrame) -> DataFrame:
    """A1 (read_delta.py:123-127): per-key count + mean duration.

    Map-side partial aggregation is automatic (hash aggregate); the shuffle
    is keyed on the join key so Catalyst can reuse the exchange for the join.
    """
    return lineitem.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("count_activity"),
        money_avg("l_extendedprice").alias("mean_duration"),
    )


def flagship_benefits(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    # P4 column pruning (read_delta.py:261) — reaches the parquet scan.
    employees = customer.select(
        F.col("c_custkey").alias("id_employee"),
        F.col("c_acctbal").alias("gross_salary"),
        F.col("c_mktsegment").alias("business_unity"),
    )

    # commute_validations stand-in: one validation row per order.
    validations = orders.select(
        F.col("o_orderkey").alias("id_validate"),
        F.col("o_custkey").alias("id_employee"),
        F.col("o_totalprice").alias("calculed_distance"),
        (F.col("o_orderstatus") == F.lit("F")).alias("is_valid"),
    )

    activity_agg = activity_aggregate(lineitem)

    # J1 inner join (read_delta.py:280): dim x validations — broadcast the dim
    # (employees is the small side at any scale factor; at 100 TB a dimension
    # table stays << autoBroadcastJoinThreshold or is explicitly hinted).
    joined = validations.join(F.broadcast(employees), "id_employee")

    # J2 left join (read_delta.py:285): keep validations with zero activities;
    # null count_activity/mean_duration are load-bearing (FIXTURES.md §1).
    joined = joined.join(activity_agg, joined.id_validate == activity_agg.l_orderkey, "left").drop(
        "l_orderkey"
    )

    # Superset projection (README.md:141-164): prime, total, activity flag.
    # Money arithmetic in exact DECIMAL (functions/money.py) — double ROUND
    # near x.xx5 ties is engine-divergent and nondeterministic under AQE.
    prime_dec = F.when(
        F.col("is_valid"),
        F.round(money("gross_salary") * F.lit("0.05").cast("decimal(6,4)"), 2),
    ).otherwise(F.lit("0.00").cast("decimal(18,2)"))
    return joined.select(
        "id_validate",
        "id_employee",
        "business_unity",
        F.round("gross_salary", 2).alias("gross_salary"),
        "is_valid",
        "count_activity",
        "mean_duration",
        prime_dec.cast("double").alias("commute_prime"),
        (money("gross_salary") + prime_dec).cast("double").alias("total_salary"),
        (F.coalesce(F.col("count_activity"), F.lit(0)) >= MIN_VALID_ACTIVITIES).alias(
            "is_valid_activities"
        ),
    )


FLAGSHIP_ORACLE_SQL = f"""
WITH activity_agg AS (
    SELECT l_orderkey,
           COUNT(*) AS count_activity,
           {sql_money_avg('l_extendedprice')} AS mean_duration
    FROM lineitem
    GROUP BY l_orderkey
),
validations AS (
    SELECT o_orderkey AS id_validate,
           o_custkey AS id_employee,
           o_totalprice AS calculed_distance,
           (o_orderstatus = 'F') AS is_valid
    FROM orders
),
employees AS (
    SELECT c_custkey AS id_employee,
           c_acctbal AS gross_salary,
           c_mktsegment AS business_unity
    FROM customer
)
SELECT v.id_validate,
       v.id_employee,
       e.business_unity,
       ROUND(e.gross_salary, 2) AS gross_salary,
       v.is_valid,
       a.count_activity,
       a.mean_duration,
       CAST(CASE WHEN v.is_valid
                 THEN ROUND(CAST(e.gross_salary AS DECIMAL(18,2))
                            * CAST('0.05' AS DECIMAL(6,4)), 2)
                 ELSE CAST('0.00' AS DECIMAL(18,2)) END AS DOUBLE) AS commute_prime,
       CAST(CAST(e.gross_salary AS DECIMAL(18,2))
            + CASE WHEN v.is_valid
                   THEN ROUND(CAST(e.gross_salary AS DECIMAL(18,2))
                              * CAST('0.05' AS DECIMAL(6,4)), 2)
                   ELSE CAST('0.00' AS DECIMAL(18,2)) END AS DOUBLE) AS total_salary,
       (COALESCE(a.count_activity, 0) >= {MIN_VALID_ACTIVITIES}) AS is_valid_activities
FROM validations v
JOIN employees e USING (id_employee)
LEFT JOIN activity_agg a ON v.id_validate = a.l_orderkey
"""
