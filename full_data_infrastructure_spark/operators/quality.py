"""Data-quality operators — SURVEY.md §2.10 (the Great Expectations DAG,
``airflow/dags/data_validation_dag.py:306-362``) as composable Spark checks.

Each expectation compiles to ONE aggregate over the data — a suite of N
expectations on one table is a single pass (one job, one scan), unlike the
reference which runs GE row-by-row through a pandas bridge. ``mostly``
semantics follow GE: fraction of non-null rows satisfying the predicate must
be >= mostly; nulls are ignored for range checks when ``ignore_nulls``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from full_data_infrastructure_spark.queries import register
from full_data_infrastructure_spark.sources.parquet import load_table


@dataclass(frozen=True)
class Expectation:
    """One GE-style expectation compiled to aggregate columns."""

    name: str
    observed: Column  # fraction/metric observed
    passed: Column  # boolean


def expect_not_null(col: str) -> Expectation:
    """V1 — expect_column_values_to_not_be_null (data_validation_dag.py:306-307)."""
    nulls = F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
    return Expectation(
        name=f"not_null:{col}",
        observed=nulls.cast("double"),
        passed=nulls == 0,
    )


def expect_between(
    col: str,
    min_value: float | None = None,
    max_value: float | None = None,
    mostly: float = 1.0,
) -> Expectation:
    """V2/V3 — expect_column_values_to_be_between with ``mostly``
    (data_validation_dag.py:308-320). Null-tolerant, matching V3's
    ``distance >= 0 OR distance IS NULL``: nulls count neither for nor
    against ``mostly``."""
    pred = F.lit(True)
    if min_value is not None:
        pred = pred & (F.col(col) >= min_value)
    if max_value is not None:
        pred = pred & (F.col(col) <= max_value)
    denom = F.sum(F.when(F.col(col).isNotNull(), 1).otherwise(0))
    num = F.sum(F.when(F.col(col).isNotNull() & pred, 1).otherwise(0))
    frac = F.when(denom == 0, F.lit(1.0)).otherwise(
        num.cast("double") / denom.cast("double")
    )
    return Expectation(
        name=f"between:{col}",
        observed=F.round(frac, 4),
        passed=frac >= mostly,
    )


def run_suite(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """V4 — run a suite in ONE aggregate pass; long-format result rows."""
    agg_cols = []
    for i, e in enumerate(expectations):
        agg_cols.append(e.observed.alias(f"_obs_{i}"))
        agg_cols.append(e.passed.alias(f"_pass_{i}"))
    wide = df.agg(*agg_cols)
    rows = [
        F.struct(
            F.lit(e.name).alias("expectation"),
            F.col(f"_obs_{i}").alias("observed"),
            F.col(f"_pass_{i}").alias("passed"),
        )
        for i, e in enumerate(expectations)
    ]
    return (
        wide.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.expectation", "r.observed", "r.passed")
    )


def assert_suite(df: DataFrame, expectations: list[Expectation]) -> None:
    """Fail-pipeline-on-invalid (data_validation_dag.py:330-362)."""
    failed = [r for r in run_suite(df, expectations).collect() if not r["passed"]]
    if failed:
        detail = ", ".join(f"{r['expectation']} (observed={r['observed']})" for r in failed)
        raise ValueError(f"validation failed: {detail}")


def enforce_constraints(
    df: DataFrame, constraints: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """V6 — SQL CHECK constraints (``data_validation_dag.py:123-124``:
    ``CHECK (activity_duration >= 0)``, ``CHECK (distance >= 0 OR distance
    IS NULL)``) as an enforce-on-write split: returns (valid_rows,
    violations), where violations carry the names of the constraints they
    break. The Delta twin is ``ALTER TABLE ADD CONSTRAINT``; this form works
    on any sink and routes bad rows to a quarantine table instead of failing
    the write.

    One pass, no shuffle: the violation tags are a projection.
    """
    tags = F.array_compact(
        F.array(
            *[
                F.when(~cond, F.lit(name)).otherwise(F.lit(None))
                for name, cond in constraints.items()
            ]
        )
    )
    tagged = df.withColumn("_violated", tags)
    valid = tagged.filter(F.size("_violated") == 0).drop("_violated")
    violations = tagged.filter(F.size("_violated") > 0).withColumnRenamed(
        "_violated", "violated_constraints"
    )
    return valid, violations


def check_schema(df: DataFrame, required_cols: dict[str, str]) -> DataFrame:
    """V5 — catalog/schema introspection (data_validation_dag.py:68-106):
    verify required columns exist with expected types."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    rows = [
        (c, t, actual.get(c), actual.get(c) == t)
        for c, t in required_cols.items()
    ]
    return df.sparkSession.createDataFrame(
        rows, "column string, expected_type string, actual_type string, ok boolean"
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "validation_suite",
    """
    SELECT 'not_null:l_shipdate' AS expectation,
           CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               AS observed,
           SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM lineitem
    UNION ALL
    SELECT 'not_null:l_returnflag',
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS DOUBLE),
           SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'between:l_quantity',
           ROUND(CAST(SUM(CASE WHEN l_quantity IS NOT NULL AND l_quantity >= 0
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN l_quantity IS NOT NULL THEN 1 ELSE 0 END)
                        AS DOUBLE), 4),
           CAST(SUM(CASE WHEN l_quantity IS NOT NULL AND l_quantity >= 0
                    THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(SUM(CASE WHEN l_quantity IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) >= 1.0
    FROM lineitem
    UNION ALL
    SELECT 'between:l_discount',
           ROUND(CAST(SUM(CASE WHEN l_discount IS NOT NULL
                               AND l_discount >= 0 AND l_discount <= 0.5
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN l_discount IS NOT NULL THEN 1 ELSE 0 END)
                        AS DOUBLE), 4),
           CAST(SUM(CASE WHEN l_discount IS NOT NULL
                         AND l_discount >= 0 AND l_discount <= 0.5
                    THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(SUM(CASE WHEN l_discount IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) >= 0.95
    FROM lineitem
    """,
    doc="V1-V4 — the GE expectation suite (data_validation_dag.py:306-320) "
    "mapped onto lineitem: two not-null checks (start_datetime, "
    "sport_type) + two range checks with mostly semantics "
    "(activity_duration >= 0; distance bounds, null-tolerant). One "
    "aggregate pass for the whole suite.",
    tags=("reference", "quality"),
)
def _validation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return run_suite(
        lineitem,
        [
            expect_not_null("l_shipdate"),
            expect_not_null("l_returnflag"),
            expect_between("l_quantity", min_value=0, mostly=1.0),
            expect_between("l_discount", min_value=0, max_value=0.5, mostly=0.95),
        ],
    )


@register(
    "constraint_violations",
    """
    SELECT o_orderkey,
           o_totalprice,
           o_orderstatus,
           array_to_string(list_filter([
               CASE WHEN NOT (o_totalprice >= 0) THEN 'totalprice_nonneg' END,
               CASE WHEN NOT (o_totalprice <= 400000) THEN 'totalprice_cap' END,
               CASE WHEN NOT (o_orderstatus IN ('O', 'F', 'P'))
                    THEN 'status_domain' END,
               CASE WHEN NOT (o_custkey IS NOT NULL) THEN 'custkey_notnull' END
           ], x -> x IS NOT NULL), ',') AS violated_constraints
    FROM orders
    WHERE len(list_filter([
               CASE WHEN NOT (o_totalprice >= 0) THEN 'totalprice_nonneg' END,
               CASE WHEN NOT (o_totalprice <= 400000) THEN 'totalprice_cap' END,
               CASE WHEN NOT (o_orderstatus IN ('O', 'F', 'P'))
                    THEN 'status_domain' END,
               CASE WHEN NOT (o_custkey IS NOT NULL) THEN 'custkey_notnull' END
           ], x -> x IS NOT NULL)) > 0
    """,
    doc="V6 — CHECK constraints (data_validation_dag.py:123-124) as an "
    "enforce-on-write split: rows violating any constraint, tagged with "
    "the constraint names they break. Delta twin: ALTER TABLE ADD "
    "CONSTRAINT; this form quarantines instead of failing the write.",
    tags=("reference", "quality"),
)
def _constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    _, violations = enforce_constraints(
        orders,
        {
            "totalprice_nonneg": F.col("o_totalprice") >= 0,
            "totalprice_cap": F.col("o_totalprice") <= 400000,
            "status_domain": F.col("o_orderstatus").isin("O", "F", "P"),
            "custkey_notnull": F.col("o_custkey").isNotNull(),
        },
    )
    return violations.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderstatus",
        F.array_join("violated_constraints", ",").alias("violated_constraints"),
    )


@register(
    "validation_schema_check",
    None,  # introspects df.schema — no DuckDB-view equivalent; rows-only check
    doc="V5 — schema/column existence + type check (data_validation_dag.py:"
    "68-106,218-258), rows-only (introspection has no SQL oracle).",
    tags=("reference", "quality"),
)
def _schema_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return check_schema(
        events,
        {
            "event_id": "bigint",
            "ts": "timestamp",  # driver parquet stores naive timestamps
            "user_id": "bigint",
            "event_type": "string",
            "value": "double",
            "props": "string",
        },
    )


def k_anonymity_violations(
    df: DataFrame, quasi_cols: list[str | Column], k: int
) -> DataFrame:
    """Quasi-identifier combinations shared by FEWER than ``k`` rows — the
    re-identifiable groups a k-anonymity audit must suppress or
    generalize before a table is released (Sweeney, "k-anonymity: a
    model for protecting privacy"). Complements the column-level PII
    REDACTION in curation.py with the row-level LINKAGE check: redacted
    text is still re-identifiable when its metadata combination is
    near-unique.

    One map-side-combined hash aggregate over the quasi-identifier
    tuple; only the violating tail (and one count per group, never rows)
    comes back, so the 100 TB cost is a single shuffle of (tuple,
    partial-count) pairs.
    """
    counted = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("cnt"))
    return counted.where(F.col("cnt") < k)


@register(
    "k_anonymity_violations",
    """
    SELECT c_nationkey,
           c_mktsegment,
           CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
           COUNT(*) AS cnt
    FROM customer
    GROUP BY c_nationkey, c_mktsegment, CAST(FLOOR(c_acctbal / 1000) AS BIGINT)
    HAVING COUNT(*) < 5
    ORDER BY cnt DESC, c_nationkey, c_mktsegment, bal_band
    """,
    doc="k-anonymity audit (k=5) over the customer quasi-identifiers "
    "(nation, market segment, account-balance band): every combination "
    "carried by fewer than 5 customers is a linkage risk the release "
    "pipeline must generalize away. Band boundaries are exact-integer "
    "multiples of 1000 (IEEE-identical division in both engines), so "
    "the audit is oracle-checked bit-for-bit.",
    tags=("extension", "quality", "curation"),
)
def _k_anonymity_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    banded = customer.withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("bigint")
    )
    return k_anonymity_violations(
        banded, ["c_nationkey", "c_mktsegment", "bal_band"], k=5
    ).orderBy(F.desc("cnt"), "c_nationkey", "c_mktsegment", "bal_band")


@register(
    "profile_columns",
    """
    SELECT 'l_quantity' AS col,
           CAST(COUNT(*) - COUNT(l_quantity) AS BIGINT) AS n_nulls,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_v,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_v,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(l_quantity), 2) AS avg_v
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           CAST(COUNT(*) - COUNT(l_extendedprice) AS BIGINT),
           CAST(MIN(l_extendedprice) AS DOUBLE),
           CAST(MAX(l_extendedprice) AS DOUBLE),
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(l_extendedprice), 2)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           CAST(COUNT(*) - COUNT(l_discount) AS BIGINT),
           CAST(MIN(l_discount) AS DOUBLE),
           CAST(MAX(l_discount) AS DOUBLE),
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(l_discount), 2)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax',
           CAST(COUNT(*) - COUNT(l_tax) AS BIGINT),
           CAST(MIN(l_tax) AS DOUBLE),
           CAST(MAX(l_tax) AS DOUBLE),
           ROUND(CAST(SUM(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(l_tax), 2)
    FROM lineitem
    """,
    doc="One-pass multi-column profiling — the table-health summary every "
    "quality workflow starts with (null counts, min/max, mean per "
    "column). The scale point is the PLAN: all four columns' statistics "
    "are computed in a SINGLE aggregate over one scan, then unpivoted "
    "driver-free with stack() into the tall (col, stats) shape — whereas "
    "the naive per-column loop (and the UNION-ALL oracle here) scans "
    "the table once PER COLUMN. At 100 TB that is 1 pass vs N passes; "
    "the oracle's N-pass form proves the one-pass answers are "
    "identical. Doubles are rounded to 2dp on both sides (cross-engine "
    "float-sum ulp); counts cast to BIGINT.",
    tags=("extension", "quality"),
)
def _profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cols = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    aggs = []
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}_nulls"),
            F.min(F.col(c).cast("double")).alias(f"{c}_min"),
            F.max(F.col(c).cast("double")).alias(f"{c}_max"),
            # DECIMAL-exact accumulation (partition-order-insensitive),
            # cast once to double, then round — a double F.avg could
            # drift a near-.005 ulp across partitionings.
            F.round(
                F.sum(F.col(c).cast("decimal(18,2)")).cast("double")
                / F.count(c),
                2,
            ).alias(f"{c}_avg"),
        ]
    one_pass = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}_nulls, {c}_min, {c}_max, {c}_avg" for c in cols
    )
    return one_pass.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) "
            "AS (col, n_nulls, min_v, max_v, avg_v)"
        )
    )


@register(
    "correlation_matrix",
    """
    WITH s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s_q,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s_e,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s_d,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ss_q,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ss_e,
               CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS ss_d,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp_q_e,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sp_q_d,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sp_e_d
        FROM lineitem
    )
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           ROUND((n * sp_q_e - s_q * s_e)
                 / SQRT((n * ss_q - s_q * s_q) * (n * ss_e - s_e * s_e)), 4)
               AS corr
    FROM s
    UNION ALL
    SELECT 'l_quantity', 'l_discount',
           ROUND((n * sp_q_d - s_q * s_d)
                 / SQRT((n * ss_q - s_q * s_q) * (n * ss_d - s_d * s_d)), 4)
    FROM s
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount',
           ROUND((n * sp_e_d - s_e * s_d)
                 / SQRT((n * ss_e - s_e * s_e) * (n * ss_d - s_d * s_d)), 4)
    FROM s
    """,
    doc="One-pass Pearson correlation matrix over lineitem's numeric "
    "columns — profile_columns' bivariate sibling: all sufficient "
    "statistics (count, per-column sums and square sums, pairwise "
    "product sums) accumulate as EXACT DECIMALs in a single aggregate "
    "over a single scan, cast to double once, and the textbook raw-sum "
    "formula runs the SAME IEEE operation sequence in both engines on "
    "those identical operands — so the 4dp round is deterministic "
    "cross-engine even where the formula cancels. At 100 TB this is "
    "one map-side-combined pass producing a 3-row result; the "
    "pandas-style per-pair corr() loop it replaces is C(N,2) scans.",
    tags=("extension", "quality", "aggregate"),
)
def _correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cols = ("l_quantity", "l_extendedprice", "l_discount")
    short = {"l_quantity": "q", "l_extendedprice": "e", "l_discount": "d"}
    dec = {c: F.col(c).cast("decimal(18,2)") for c in cols}
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in cols:
        k = short[c]
        aggs.append(F.sum(dec[c]).cast("double").alias(f"s_{k}"))
        aggs.append(F.sum(dec[c] * dec[c]).cast("double").alias(f"ss_{k}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(
                F.sum(dec[a] * dec[b])
                .cast("double")
                .alias(f"sp_{short[a]}_{short[b]}")
            )
    s = li.agg(*aggs)

    def corr(a: str, b: str) -> Column:
        ka, kb = short[a], short[b]
        n = F.col("n")
        num = n * F.col(f"sp_{ka}_{kb}") - F.col(f"s_{ka}") * F.col(f"s_{kb}")
        den = F.sqrt(
            (n * F.col(f"ss_{ka}") - F.col(f"s_{ka}") * F.col(f"s_{ka}"))
            * (n * F.col(f"ss_{kb}") - F.col(f"s_{kb}") * F.col(f"s_{kb}"))
        )
        return F.round(num / den, 4)

    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    # Explode the pairs out of the ONE aggregate row — a UNION of per-pair
    # selects re-plans the shared aggregate per branch and scans the table
    # once per pair (caught by the single-scan plan gate).
    rows = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                corr(a, b).alias("corr"),
            )
            for a, b in pairs
        ]
    )
    return s.select(F.explode(rows).alias("r")).select(
        "r.col_a", "r.col_b", "r.corr"
    )


# log10(1 + 1/d) to 10dp — ONE literal table drives both engines' queries,
# so no runtime log() (cross-engine transcendental ulp hazard) ever runs.
BENFORD = {
    "1": 0.3010299957,
    "2": 0.1760912591,
    "3": 0.1249387366,
    "4": 0.0969100130,
    "5": 0.0791812460,
    "6": 0.0669467896,
    "7": 0.0579919470,
    "8": 0.0511525224,
    "9": 0.0457574906,
}


def _benford_sql_case() -> str:
    arms = " ".join(
        f"WHEN '{d}' THEN {p}" for d, p in BENFORD.items()
    )
    return f"CASE digit {arms} END"


@register(
    "benford_first_digit",
    f"""
    WITH digits AS (
        SELECT substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                      1, 1) AS digit
        FROM orders
        WHERE o_totalprice >= 1
    ),
    counts AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ),
    total AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM counts)
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / t, 4) AS frac,
           {_benford_sql_case()} AS benford,
           ROUND(CAST(n AS DOUBLE) / t - {_benford_sql_case()}, 4) AS deviation
    FROM counts CROSS JOIN total
    """,
    doc="Benford first-digit audit over order amounts — the classic "
    "fabricated-data screen (synthetic or tampered monetary columns "
    "drift from the log-law digit distribution): observed count and "
    "fraction per leading digit against the Benford expectation, with "
    "the deviation each auditor eyeballs. The expected fractions are a "
    "10dp LITERAL table shared by both engines' queries, so no runtime "
    "log() (a cross-engine transcendental ulp hazard) is evaluated; the "
    "fraction and deviation are single IEEE divisions/subtractions of "
    "identical operands. One map-side-combined aggregate, 9-row result, "
    "any scale.",
    tags=("extension", "quality", "aggregate"),
)
def _benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    )
    counts = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").cast("double").alias("t"))
    benford_col = F.lit(None).cast("double")
    for d, p in reversed(BENFORD.items()):
        benford_col = F.when(F.col("digit") == d, F.lit(p)).otherwise(benford_col)
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.col("t"), 4).alias("frac"),
        benford_col.alias("benford"),
        F.round(
            F.col("n").cast("double") / F.col("t") - benford_col, 4
        ).alias("deviation"),
    )


@register(
    "profile_by_key",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) - COUNT(value) AS BIGINT) AS n_nulls,
           CAST(MIN(value) AS DOUBLE) AS min_v,
           CAST(MAX(value) AS DOUBLE) AS max_v,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(value), 2) AS avg_v
    FROM events
    GROUP BY event_type
    """,
    doc="Segmented profiling — profile_columns answers 'is the TABLE "
    "healthy', this answers 'WHICH segment is broken': the same null/"
    "min/max/DECIMAL-exact-mean statistics grouped by event type, the "
    "first query run when a pipeline alert fires (one upstream producer "
    "emitting nulls hides inside a global profile). One map-side-"
    "combined groupBy; key cardinality is bounded, so the result stays "
    "dashboard-sized at any scale.",
    tags=("extension", "quality", "aggregate", "events"),
)
def _profile_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count("value")).alias("n_nulls"),
        F.min(F.col("value").cast("double")).alias("min_v"),
        F.max(F.col("value").cast("double")).alias("max_v"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count("value"),
            2,
        ).alias("avg_v"),
    )
