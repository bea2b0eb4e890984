"""Corpus-curation operators for LLM training-data pipelines (north-star
extension): PII redaction, deterministic sampling / dataset splits,
stratified sampling, and repetition (boilerplate) quality signals.

The reference has no equivalent — its closest shape is the data-quality
DAG (``airflow/dags/data_validation_dag.py:306-320``, row-level
expectations); these operators are the corpus-level curation pass a 100 TB
training-data pipeline runs between ingest and dedup.

Scale design
------------
* Everything is built-in JVM expressions (regexp / md5 / list ops /
  window) — no Python UDFs — so a full-corpus pass stays inside
  whole-stage codegen and scans prune to the referenced columns.
* Sampling and splits key on ``md5(doc_id)``, not ``rand()``: the sample
  is deterministic (re-runs and retried tasks agree — at-least-once
  executors can't double-sample a row), needs no shuffle, and pushes the
  filter to the scan.
* The stratified sampler is the only shuffle here (one window per
  stratum); at 100 TB, strata counts are bounded (languages, sources), so
  the per-stratum ``row_number`` partitions stay balanced.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from full_data_infrastructure_spark.operators.dedup import (
    exploded_shingles,
    shingle_ctes,
)
from full_data_infrastructure_spark.operators.text import TOKENS_SQL, tokens
from full_data_infrastructure_spark.queries import register
from full_data_infrastructure_spark.sources.parquet import load_table

# Regex subset chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repetition, \b word boundaries —
# no backrefs, no lookaround.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
PHONE_RE = "\\+[0-9]{7,15}"


def redact_pii(text: Column | str) -> Column:
    """Replace emails, IPv4 addresses, and +international phone numbers
    with typed placeholder tags. Order matters: emails first so the
    user@host digits never half-match the phone pattern."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, IPV4_RE, "<IP>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def pii_count(text: Column | str) -> Column:
    return (
        F.regexp_count(text, F.lit(EMAIL_RE))
        + F.regexp_count(text, F.lit(IPV4_RE))
        + F.regexp_count(text, F.lit(PHONE_RE))
    )


def hash_bucket(key: Column) -> Column:
    """Deterministic 2-hex-char bucket ('00'..'ff', 256 buckets) of a key.

    String compare on the hex prefix is engine-portable (identical in
    Spark and DuckDB), unlike integer conversions of the digest.
    """
    return F.substring(F.md5(key.cast("string").cast("binary")), 1, 2)


@register(
    "pii_redact",
    f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{IPV4_RE}', '<IP>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g') AS clean_text,
           len(regexp_extract_all(text, '{EMAIL_RE}'))
             + len(regexp_extract_all(text, '{IPV4_RE}'))
             + len(regexp_extract_all(text, '{PHONE_RE}')) AS n_pii
    FROM documents
    """,
    doc="PII redaction pass: emails / IPv4 / +international phones replaced "
    "with typed tags, plus a per-doc redaction count. Pure regexp_replace "
    "— codegen'd, no UDF. Redaction semantics on PII-bearing rows are "
    "asserted in tests/test_curation.py (the synthetic corpus is clean).",
    tags=("llm", "curation"),
)
def _pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        redact_pii("text").alias("clean_text"),
        pii_count("text").alias("n_pii"),
    )


@register(
    "sample_hash",
    """
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '19'
    """,
    doc="Deterministic ~10% corpus sample: keep rows whose md5(doc_id) hex "
    "prefix falls in the first 26/256 buckets. No RNG state, no shuffle; "
    "the predicate evaluates at the scan, and re-runs/retries agree.",
    tags=("llm", "curation", "sampling"),
)
def _sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(hash_bucket(F.col("doc_id")) <= "19").select(
        "doc_id", "lang", "source"
    )


@register(
    "train_val_test_split",
    """
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                  THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                  THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    doc="Deterministic ~80/10/10 train/val/test split on md5(doc_id) hex "
    "buckets — disjoint, exhaustive, stable across runs and engines; a "
    "doc's split never changes as the corpus grows.",
    tags=("llm", "curation", "sampling"),
)
def _train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    split = (
        F.when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
    )
    return docs.select("doc_id", split.alias("split"))


@register(
    "stratified_sample",
    """
    SELECT doc_id, lang, rn
    FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    WHERE rn <= 5
    """,
    doc="Stratified sample: 5 docs per language, ordered by md5(doc_id) so "
    "the pick is uniform-ish but deterministic. One window shuffle keyed "
    "on the stratum; stratum count is bounded, so partitions balance.",
    tags=("llm", "curation", "sampling"),
)
def _stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
    )


@register(
    "repetition_signals",
    f"""
    WITH toks AS (
        SELECT doc_id,
               {TOKENS_SQL} AS toks
        FROM documents
    ),
    base AS (
        SELECT doc_id,
               len(toks) AS total,
               len(list_distinct(toks)) AS ndist,
               len(list_distinct(list_transform(
                   range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i + 1]))) AS ndist_bigram
        FROM toks
        WHERE len(toks) >= 2
    ),
    top AS (
        SELECT doc_id, MAX(c) AS top_cnt
        FROM (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
            GROUP BY doc_id, tok
        )
        GROUP BY doc_id
    )
    SELECT base.doc_id,
           1.0 - CAST(ndist AS DOUBLE) / total AS dup_token_frac,
           CAST(top_cnt AS DOUBLE) / total AS top_token_frac,
           1.0 - CAST(ndist_bigram AS DOUBLE) / (total - 1) AS dup_bigram_frac
    FROM base JOIN top ON base.doc_id = top.doc_id
    """,
    doc="Gopher-style repetition signals per doc: duplicate-token fraction, "
    "most-frequent-token fraction, duplicate-bigram fraction — the "
    "boilerplate/template detector for corpus filtering. Token and bigram "
    "distinct-counts are list ops on a materialized token array (one scan, "
    "no HOF re-evaluation); the mode count is one explode + two partial "
    "aggregates.",
    tags=("llm", "curation", "text"),
)
def _repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    gram_count = F.size("toks") - 1
    bigrams = F.zip_with(
        F.slice("toks", 1, gram_count),
        F.slice("toks", 2, gram_count),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    base = tokd.select(
        "doc_id",
        F.size("toks").alias("total"),
        F.size(F.array_distinct("toks")).alias("ndist"),
        F.size(F.array_distinct(bigrams)).alias("ndist_bigram"),
    )
    top = (
        tokd.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"))
    )
    return base.join(top, "doc_id").select(
        "doc_id",
        (F.lit(1.0) - F.col("ndist").cast("double") / F.col("total")).alias(
            "dup_token_frac"
        ),
        (F.col("top_cnt").cast("double") / F.col("total")).alias(
            "top_token_frac"
        ),
        (
            F.lit(1.0)
            - F.col("ndist_bigram").cast("double") / (F.col("total") - 1)
        ).alias("dup_bigram_frac"),
    )


EVAL_BUCKET_MAX = "0c"  # md5 buckets '00'..'0c' = ~5% of docs act as the eval set
CONTAM_THRESHOLD = 0.25


def _decontam_scores_sql() -> str:
    """Parenthesized (doc_id, n_shingles, n_shared) subquery: per
    train-split document, its shingle count and how many of them occur in the
    eval split — the one scoring fragment of decontaminate_overlap and
    contaminated_ids_sql."""
    return f"""(
    WITH {shingle_ctes()},
    eval_sh AS (
        SELECT DISTINCT sh FROM sh
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= '{EVAL_BUCKET_MAX}'
    ),
    train_sh AS (
        SELECT * FROM sh
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) > '{EVAL_BUCKET_MAX}'
    )
    SELECT t.doc_id,
           COUNT(*) AS n_shingles,
           -- CAST: DuckDB SUM(int) is HUGEINT, which pandas widens to
           -- float64 and the driver's value hash then mismatches
           -- Spark's int64. BIGINT keeps both sides integer-typed.
           CAST(SUM(CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared
    FROM train_sh t LEFT JOIN eval_sh e ON t.sh = e.sh
    GROUP BY t.doc_id)"""


@register(
    "decontaminate_overlap",
    f"""
    SELECT doc_id, n_shingles, n_shared,
           CAST(n_shared AS DOUBLE) / n_shingles AS contam_frac,
           CAST(n_shared AS DOUBLE) / n_shingles >= {CONTAM_THRESHOLD}
               AS contaminated
    FROM {_decontam_scores_sql()} scored
    """,
    doc="Benchmark decontamination: each training doc scored by the "
    "fraction of its word-3-gram shingles that appear anywhere in the "
    "held-out eval split (the deterministic ~5% md5 bucket). At 100 TB "
    "the eval shingle set is tiny and broadcast, so the pass is one "
    "map-side join over the train shingles — no shuffle of the corpus.",
    tags=("llm", "curation", "dedup"),
)
def _decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = exploded_shingles(docs)
    bucket = hash_bucket(F.col("doc_id"))
    eval_sh = (
        sh.filter(bucket <= EVAL_BUCKET_MAX)
        .select("sh")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    train_sh = sh.filter(bucket > EVAL_BUCKET_MAX)
    scored = (
        train_sh.join(F.broadcast(eval_sh), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_shared"),
        )
    )
    frac = F.col("n_shared").cast("double") / F.col("n_shingles")
    return scored.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        frac.alias("contam_frac"),
        (frac >= CONTAM_THRESHOLD).alias("contaminated"),
    )


@register(
    "proportional_sample",
    """
    SELECT doc_id, source
    FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents
    )
    WHERE rn <= CEIL(0.1 * n)
    """,
    doc="Proportional stratified sample: ~10% of each source, allocation "
    "computed from the stratum size (complements the fixed-count "
    "stratified_sample). Deterministic md5 ordering; the ceil keeps "
    "small strata represented. One window shuffle keyed on the stratum.",
    tags=("llm", "curation", "sampling"),
)
def _proportional_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), F.col("doc_id")
    )
    wn = Window.partitionBy("source")
    return (
        docs.select(
            "doc_id",
            "source",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") <= F.ceil(0.1 * F.col("n")))
        .select("doc_id", "source")
    )


@register(
    "snapshot_diff",
    """
    WITH fp AS (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
        FROM documents
    ),
    old AS (
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0 THEN md5(f) ELSE f END AS f
        FROM fp WHERE doc_id % 5 != 0
    ),
    new AS (SELECT doc_id, f FROM fp WHERE doc_id % 7 != 0)
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.f != n.f THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    """,
    doc="Corpus snapshot diff — the version-comparison pass run before "
    "retraining on an updated corpus: FULL OUTER JOIN of two snapshots "
    "on doc_id comparing 16-byte content fingerprints, classifying every "
    "doc added / removed / changed / unchanged. Only (doc_id, "
    "fingerprint) pairs shuffle, never text — the diff of two 100 TB "
    "snapshots moves 24 bytes per doc. The fixture derives both "
    "snapshots deterministically from the documents table (mod-5/mod-7 "
    "membership, mod-11 rows mutated), so the oracle reproduces them "
    "exactly.",
    tags=("llm", "curation"),
)
def _snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from full_data_infrastructure_spark.operators.dedup import normalized_text

    from full_data_infrastructure_spark.cache import tracked_persist

    docs = load_table(spark, sf_dir, "documents")
    # Both diff sides consume fp with different filters, so ReusedExchange
    # cannot deduplicate the subtrees — persist once or the corpus scan +
    # normalize + md5 runs twice in one plan (same rationale as the
    # shingle table in exact_jaccard_pairs).
    fp = tracked_persist(
        docs.select("doc_id", F.md5(normalized_text()).alias("f"))
    )
    old = fp.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.md5("f")).otherwise(F.col("f")).alias("f"),
    )
    new = fp.filter(F.col("doc_id") % 7 != 0)
    o = old.select(F.col("doc_id").alias("o_id"), F.col("f").alias("o_f"))
    n = new.select(F.col("doc_id").alias("n_id"), F.col("f").alias("n_f"))
    joined = o.join(n, o["o_id"] == n["n_id"], "full_outer")
    status = (
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .when(F.col("o_f") != F.col("n_f"), "changed")
        .otherwise("unchanged")
    )
    return joined.select(
        F.coalesce("o_id", "n_id").alias("doc_id"), status.alias("status")
    )


def contaminated_ids_sql() -> str:
    """Parenthesized subquery of the train-split doc_ids whose eval-shingle
    overlap crosses CONTAM_THRESHOLD — the reusable oracle fragment
    corpus_pipeline_full subtracts before dedup."""
    return f"""(
    SELECT doc_id FROM {_decontam_scores_sql()} scored
    WHERE CAST(n_shared AS DOUBLE) / n_shingles >= {CONTAM_THRESHOLD})"""


@register(
    "domain_cap_sample",
    """
    WITH ranked AS (
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS rnk
        FROM documents
    )
    SELECT doc_id, source, rnk FROM ranked WHERE rnk <= 50
    """,
    doc="Per-domain document cap — the Gopher/C4/Dolma curation rule that "
    "no single domain may dominate the corpus: keep at most K docs per "
    "source, chosen by a deterministic uniform priority (md5 of the doc "
    "id), so the kept subset is an unbiased, reproducible sample of each "
    "domain rather than whatever K rows arrived first. Declarative "
    "row_number <= K is the SCALE-CORRECT form on Spark 3.5+/4: Catalyst "
    "rewrites the rank filter into WindowGroupLimit(Partial) that "
    "truncates every map partition to its local top-K per source BEFORE "
    "the exchange, so a hub domain with 10^9 docs ships "
    "K x num_partitions rows through the shuffle, not 10^9 "
    "(plan-asserted in tests/test_plans.py). Spark's int32 row_number "
    "is cast to BIGINT to match DuckDB.",
    tags=("llm", "curation", "sampling"),
)
def _domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("bigint").alias("rnk"),
        )
        .filter(F.col("rnk") <= 50)
    )


@register(
    "weighted_sample_docs",
    """
    WITH pri AS (
        SELECT doc_id, lang, n_chars,
               CAST(((doc_id % 1000003) * 2654435761) % 4294967296 AS DOUBLE)
                   / CAST(n_chars AS DOUBLE) AS priority
        FROM documents
        WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars
    FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY priority, doc_id) AS rnk
        FROM pri
    )
    WHERE rnk <= 20
    """,
    doc="Deterministic weighted sampling per stratum (Efraimidis-"
    "Spirakis A-ES shape): each document draws a pseudo-random priority "
    "hash(doc_id)/weight with weight = n_chars, and the 20 lowest "
    "priorities per language win — longer documents are proportionally "
    "likelier, which is how token-weighted corpus subsampling selects "
    "shards. The 'random' draw is an explicit integer LCG hash (exact "
    "in both engines; F11's engine-owned-randomness pattern), and the "
    "priority is ONE double division of exact integer operands, so "
    "ranking is IEEE-identical cross-engine — no RNG, no re-run drift. "
    "Scale: per-key top-K plans as WindowGroupLimit with a map-side "
    "Partial phase (the domain_cap_sample plan gate covers the shape): "
    "each partition truncates to its local top-20 per lang before the "
    "shuffle, so the exchange carries K x partitions rows per stratum, "
    "never the corpus.",
    tags=("extension", "sampling", "curation"),
)
def _weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    priority = (
        ((F.col("doc_id") % 1000003) * 2654435761) % 4294967296
    ).cast("double") / F.col("n_chars").cast("double")
    return (
        docs.select("doc_id", "lang", "n_chars", priority.alias("_p"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(F.col("_p").asc(), "doc_id")
            ),
        )
        .filter(F.col("rnk") <= 20)
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "group_split_events",
    """
    SELECT event_id, user_id,
           CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 2) < 'cc'
                  THEN 'train'
                WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 2) < 'e6'
                  THEN 'val'
                ELSE 'test' END AS split
    FROM events
    """,
    doc="GROUP-aware train/val/test split: the split key is the USER, not "
    "the row, so every event of a user lands in one split — the leakage "
    "control train_val_test_split's row-level form cannot give "
    "(row-level splitting puts half a user's behavior in train and half "
    "in test, and the model grades itself on users it memorized). Same "
    "md5 hex-bucket mechanics: disjoint, exhaustive, stable as the "
    "corpus grows, identical in both engines. Pure projection — the "
    "group key is on the row, so group integrity costs NO join and NO "
    "shuffle; group-disjointness is pytest-asserted.",
    tags=("llm", "curation", "sampling", "events"),
)
def _group_split_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    b = hash_bucket(F.col("user_id"))
    split = F.when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
    return events.select("event_id", "user_id", split.alias("split"))


@register(
    "corpus_datacard",
    """
    WITH per AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE)
                     / COUNT(n_chars), 2) AS avg_chars
        FROM documents
        GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS t FROM per)
    SELECT source, n_docs, total_chars, n_langs, avg_chars,
           ROUND(CAST(n_docs AS DOUBLE) / t, 4) AS corpus_frac
    FROM per CROSS JOIN tot
    """,
    doc="Per-source corpus data card — the 'datasheets for datasets' "
    "summary table (doc count, character volume, language spread, mean "
    "length, corpus share) a training-data release publishes per source "
    "and a mixture designer reads before setting sampling rates. One "
    "map-side-combined groupBy plus a broadcast total; mean via the "
    "DECIMAL-exact profile_columns recipe. Sources are bounded "
    "cardinality, so the result is dashboard-sized at any corpus scale.",
    tags=("llm", "curation", "quality"),
)
def _corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.count_distinct("lang").alias("n_langs"),
        F.round(
            F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double")
            / F.count("n_chars"),
            2,
        ).alias("avg_chars"),
    )
    tot = per.agg(F.sum("n_docs").cast("double").alias("t"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total_chars",
        "n_langs",
        "avg_chars",
        F.round(F.col("n_docs").cast("double") / F.col("t"), 4).alias(
            "corpus_frac"
        ),
    )
