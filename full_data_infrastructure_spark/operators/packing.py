"""Training-batch assembly — sequence packing, mixture sampling, C4 filters.

The reference stops at ingest/report (its pipeline ends in Superset
dashboards); an LLM-data user needs the last mile from a curated corpus to
training batches. These operators cover it Spark-first:

* ``pack_sequences`` — assign documents to fixed-token-budget training
  bins ("sequence packing"). A global greedy packer would need one total
  order (single-reducer at 100 TB), so documents are first hash-bucketed
  into independent packing groups and packed by running token count
  WITHIN each group: 256 parallel windows, no global sort, and bucket
  count scales with the cluster (thousands at 100 TB) — the fill loss vs
  a global packer is the tail bin of each bucket, negligible when
  buckets >> bins-per-bucket.
* ``mixture_sample`` — hit target corpus proportions per language
  ("domain mixing"): the largest feasible total T is found from per-lang
  counts (T = min n_l / w_l), then each language keeps a deterministic
  md5-bucket fraction sized to w_l * T / n_l. No RNG, no shuffle of the
  corpus — the keep predicate evaluates at the scan, and the per-lang
  rate table is a broadcast 5-row aggregate.
* ``c4_quality_filters`` — doc-level C4-style keep/drop rules (Raffel et
  al., "Exploring the Limits of Transfer Learning", §2.2): too-short
  docs, missing terminal punctuation, brace-bearing (code) docs, lorem
  ipsum, degenerate mean word length. Pure codegen string expressions —
  no UDFs, filters evaluate in the scan stage.

All three are SQL-expressible, so each carries a DuckDB oracle. Integer
window sums are CAST to BIGINT in the oracles (DuckDB SUM -> HUGEINT ->
pandas float64 would break the driver's exact value hash).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from full_data_infrastructure_spark.cache import tracked_persist
from full_data_infrastructure_spark.operators.curation import (
    EVAL_BUCKET_MAX,
    contaminated_ids_sql,
    _decontaminate,
    hash_bucket,
)
from full_data_infrastructure_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    cc_labels_sql,
    connected_components,
    exact_jaccard_pairs,
    minhash_dedup_pairs,
    _ngram_jaccard_sql,
)
from full_data_infrastructure_spark.operators.text import (
    TOKENS_SQL,
    qc_keep_col,
    qc_keep_sql,
    tokens,
)
from full_data_infrastructure_spark.queries import register
from full_data_infrastructure_spark.sources.parquet import load_table

CONTEXT_TOKENS = 2048  # packing bin budget (tokens per training sequence)

# Target corpus mixture by language; langs absent from the table drop out.
MIXTURE_WEIGHTS: dict[str, float] = {
    "en": 0.50,
    "zh": 0.20,
    "es": 0.15,
    "fr": 0.10,
    "de": 0.05,
}

_TOK_SQL = f"len({TOKENS_SQL})"


def pack_sql(source: str, carry: tuple[str, ...] = ()) -> str:
    """Parenthesized subquery mirroring :func:`pack_assign` over the
    (doc_id, text, *carry) rows of ``source`` (a table, CTE or
    parenthesized subquery)."""
    kept = "".join(f"{c}, " for c in carry)
    return f"""(
    WITH sized AS (
        SELECT doc_id, {kept}
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
               md5(CAST(doc_id AS VARCHAR)) AS ord_key,
               CAST({_TOK_SQL} AS BIGINT) AS n_tok
        FROM {source}
    ),
    packed AS (
        SELECT doc_id, {kept}bucket, n_tok,
               CAST(COALESCE(SUM(n_tok) OVER (
                   PARTITION BY bucket ORDER BY ord_key
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM sized
    )
    SELECT doc_id, {kept}bucket, n_tok,
           CAST(FLOOR(cum_before / {CONTEXT_TOKENS}.0) AS BIGINT) AS bin_id,
           cum_before % {CONTEXT_TOKENS} AS bin_offset
    FROM packed)"""


@register(
    "pack_sequences",
    f"SELECT * FROM {pack_sql('documents')} packed",
    doc="Sequence packing: documents assigned to 2048-token training bins "
    "within 256 deterministic md5 hash buckets — parallel windowed "
    "cumulative token counts, no global sort. Output: (bucket, bin_id) "
    "locates each doc's bin; bin_offset its start position. At 100 TB "
    "the bucket count rises with the cluster; fill loss is one tail bin "
    "per bucket.",
    tags=("llm", "packing", "text"),
)
def _pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_assign(load_table(spark, sf_dir, "documents"))


def pack_assign(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Assign (bucket, bin_id, bin_offset) to any (doc_id, text) DataFrame;
    ``carry`` lists extra input columns to keep on the output."""
    sized = docs.select(
        "doc_id",
        *carry,
        hash_bucket(F.col("doc_id")).alias("bucket"),
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("ord_key"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("ord_key")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sized.select(
        "doc_id",
        *carry,
        "bucket",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("cum_before"),
    )
    return packed.select(
        "doc_id",
        *carry,
        "bucket",
        "n_tok",
        F.floor(F.col("cum_before") / CONTEXT_TOKENS).alias("bin_id"),
        (F.col("cum_before") % CONTEXT_TOKENS).alias("bin_offset"),
    )


def _mixture_weights_sql() -> str:
    rows = ", ".join(
        f"('{lang}', CAST({w} AS DOUBLE))" for lang, w in MIXTURE_WEIGHTS.items()
    )
    return f"(VALUES {rows}) AS w(lang, wt)"


def mixture_keep_sql(source: str) -> str:
    """Parenthesized subquery mirroring :func:`mixture_keep`: the rows of
    ``source`` (a table or CTE with doc_id and lang) that the target
    mixture keeps, with rates derived from ``source``'s own counts."""
    return f"""(
    WITH w AS (SELECT * FROM {_mixture_weights_sql()}),
    n AS (
        SELECT s.lang, CAST(COUNT(*) AS DOUBLE) AS n_l, ANY_VALUE(w.wt) AS wt
        FROM {source} s JOIN w ON s.lang = w.lang
        GROUP BY s.lang
    ),
    t AS (SELECT MIN(n_l / wt) AS t_max FROM n),
    rates AS (
        SELECT n.lang,
               GREATEST(
                   CAST(FLOOR(LEAST(n.wt * t.t_max / n.n_l, 1.0) * 256)
                        AS BIGINT),
                   1) AS k
        FROM n CROSS JOIN t
    )
    SELECT s.*
    FROM {source} s
    JOIN rates r ON s.lang = r.lang
    WHERE r.k >= 256
       OR substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 2) < printf('%02x', r.k))"""


@register(
    "mixture_sample",
    f"SELECT doc_id, lang, source FROM {mixture_keep_sql('documents')} kept",
    doc="Domain-mixture sampling: keep a deterministic md5-bucket fraction "
    "of each language sized so the OUTPUT hits the target proportions "
    "(en .50 / zh .20 / es .15 / fr .10 / de .05) at the largest feasible "
    "total T = min(n_l / w_l). The 5-row rate table broadcasts; the keep "
    "predicate is scan-local — the corpus never shuffles and retries "
    "agree. Rate granularity is 1/256 (the 2-hex-char bucket); the rate "
    "clamps to at least one bucket (GREATEST(k,1), as in "
    "mixture_sqrt_temperature) so a weighted language whose "
    "fair share floors below 1/256 under extreme count-vs-weight skew "
    "is still sampled, never silently dropped.",
    tags=("llm", "curation", "sampling", "packing"),
)
def _mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return mixture_keep(spark, docs).select("doc_id", "lang", "source")


def _within_rate() -> Column:
    """Keep predicate of both mixture samplers: the doc's md5 bucket falls
    below its group's rate ``k`` (in 1/256 steps; k >= 256 keeps all)."""
    return (F.col("k") >= 256) | (
        hash_bucket(F.col("doc_id")) < F.format_string("%02x", F.col("k"))
    )


def mixture_keep(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Filter any (doc_id, lang, ...) DataFrame down to the target language
    mixture; rates derive from the INPUT's own per-lang counts, so the
    same helper composes after dedup/filter stages."""
    # The oracles' VALUES relation: a literal local table, so the weights
    # have one definition and need no Python worker to scan.
    weights = spark.sql(f"SELECT * FROM {_mixture_weights_sql()}")
    n = (
        docs.join(F.broadcast(weights), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_l"),
            F.any_value("wt").alias("wt"),
        )
    )
    # t_max as a window-min over the tiny per-lang aggregate keeps the
    # whole rate derivation on ONE scan of the lang column (a separate
    # .agg() consumer makes Catalyst re-scan the corpus for the same
    # aggregate — measured as a duplicate scan subtree in the plan).
    t_w = Window.partitionBy(F.lit(1))
    # GREATEST(k, 1): a weighted language whose fair share floors below
    # one 1/256 bucket (extreme count-vs-weight skew) keeps the single
    # bucket instead of vanishing, as mixture_sqrt_temperature's clamp
    # does. Never dropping a weighted language outranks hitting the
    # target share exactly in that regime.
    rates = n.select(
        "lang",
        F.greatest(
            F.floor(
                F.least(
                    F.col("wt")
                    * F.min(F.col("n_l") / F.col("wt")).over(t_w)
                    / F.col("n_l"),
                    F.lit(1.0),
                )
                * 256
            ).cast("bigint"),
            F.lit(1).cast("bigint"),
        ).alias("k"),
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(_within_rate())
        .drop("k")
    )


# NULL-lang documents participate in the rebalance as their own group:
# grouping/joining on raw lang would silently drop them via the inner
# join — consistently on both engines, so no parity sweep could catch it.
# The sentinel starts with \x01 so it cannot collide with a real
# language tag (the corpus schema pins lang to printable ISO codes).
_NULL_LANG_SENTINEL = "\x01<unlabeled>"


@register(
    "mixture_sqrt_temperature",
    """
    WITH d AS (
        SELECT doc_id, lang, source,
               coalesce(lang, chr(1) || '<unlabeled>') AS lk
        FROM documents
    ),
    n AS (
        SELECT lk, CAST(COUNT(*) AS DOUBLE) AS n_l
        FROM d GROUP BY lk
    ),
    rates AS (
        SELECT lk,
               GREATEST(
                   CAST(FLOOR(SQRT(MIN(n_l) OVER () / n_l) * 256) AS BIGINT),
                   1) AS k
        FROM n
    )
    SELECT d.doc_id, d.lang, d.source
    FROM d
    JOIN rates r ON d.lk = r.lk
    WHERE r.k >= 256
       OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < printf('%02x', r.k)
    """,
    doc="Temperature-scaled language rebalancing at alpha=1/2 (square-root "
    "sampling, the mBERT/XLM exponentiated-smoothing family): target "
    "share q_l ∝ n_l^0.5, which algebraically reduces to keep-rate "
    "sqrt(n_min/n_l) — the smallest language is kept whole, larger ones "
    "downsampled toward it, flattening the corpus distribution without "
    "a hand-written weight table (mixture_sample's contract) and "
    "without upsampling. alpha=1/2 rather than a pow() knob because "
    "IEEE-754 requires correctly-rounded sqrt, so the 1/256 bucket "
    "rates are bit-identical cross-engine where pow(p, 0.3) is not. "
    "The 1/256-granular rate clamps to at least one bucket "
    "(GREATEST(k,1)): without it a language >65536x the smallest floors to "
    "k=0 and is dropped ENTIRELY — the opposite of downsampling, and "
    "routine at web scale where a dominant language dwarfs a minority "
    "one. NULL-lang documents form their own kept-whole group via a "
    "non-colliding sentinel key rather than vanishing into the inner "
    "join. Same scale shape as mixture_sample: the rate table is "
    "lang-sized and broadcast, the keep predicate is scan-local "
    "md5-bucket thresholding (deterministic, retry-safe), the corpus "
    "never shuffles.",
    tags=("llm", "curation", "sampling", "packing"),
)
def _mixture_sqrt_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "lk", F.coalesce(F.col("lang"), F.lit(_NULL_LANG_SENTINEL))
    )
    n = docs.groupBy("lk").agg(F.count(F.lit(1)).cast("double").alias("n_l"))
    # Window-min over the lang-sized aggregate: one scan, same reasoning
    # as mixture_keep's t_max.
    t_w = Window.partitionBy(F.lit(1))
    rates = n.select(
        "lk",
        F.greatest(
            F.floor(F.sqrt(F.min("n_l").over(t_w) / F.col("n_l")) * 256).cast(
                "bigint"
            ),
            F.lit(1).cast("bigint"),
        ).alias("k"),
    )
    return (
        docs.join(F.broadcast(rates), "lk")
        .filter(_within_rate())
        .select("doc_id", "lang", "source")
    )


@register(
    "c4_quality_filters",
    f"""
    WITH scored AS (
        SELECT doc_id,
               CAST({_TOK_SQL} AS BIGINT) AS n_tok,
               length(text) AS n_chars,
               trim(text) AS t
        FROM documents
    )
    SELECT doc_id, n_tok,
           n_tok < 5 AS too_short,
           right(t, 1) IN ('.', '!', '?', '"') AS has_terminal_punct,
           contains(t, '{{') OR contains(t, '}}') AS has_brace,
           contains(lower(t), 'lorem ipsum') AS has_lorem,
           (n_tok > 0 AND (n_chars / CAST(n_tok AS DOUBLE)) NOT BETWEEN 3 AND 12)
               AS degenerate_word_len,
           (n_tok >= 5
            AND right(t, 1) IN ('.', '!', '?', '"')
            AND NOT (contains(t, '{{') OR contains(t, '}}'))
            AND NOT contains(lower(t), 'lorem ipsum')
            AND n_tok > 0
            AND (n_chars / CAST(n_tok AS DOUBLE)) BETWEEN 3 AND 12) AS keep
    FROM scored
    """,
    doc="C4-style document quality rules (Raffel et al. §2.2, adapted): "
    "minimum length, terminal punctuation, no code braces, no lorem "
    "ipsum, sane mean word length — each surfaced as a flag plus the "
    "combined keep decision. All codegen string expressions; the filter "
    "runs in the scan stage with zero shuffles.",
    tags=("llm", "text", "curation"),
)
def _c4_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return c4_flags(load_table(spark, sf_dir, "documents"))


def c4_flags(docs: DataFrame) -> DataFrame:
    """C4 rule flags + keep decision for any (doc_id, text) DataFrame.

    The registered query applies this to the documents table; tests also
    drive it with crafted docs, because the synthetic corpus never ends a
    document with terminal punctuation (so corpus-level keep is 0 there —
    faithful to C4, which is aggressive by design).
    """
    t = F.trim(F.col("text"))
    n_tok = F.size(tokens(F.col("text"))).cast("bigint")
    scored = docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        F.length("text").alias("n_chars"),
        t.alias("t"),
    )
    last_ch = F.substring(F.col("t"), -1, 1)
    too_short = F.col("n_tok") < 5
    terminal = last_ch.isin(".", "!", "?", '"')
    brace = F.col("t").contains("{") | F.col("t").contains("}")
    lorem = F.lower(F.col("t")).contains("lorem ipsum")
    word_len = F.col("n_chars") / F.col("n_tok").cast("double")
    sane_len = (F.col("n_tok") > 0) & word_len.between(3, 12)
    return scored.select(
        "doc_id",
        "n_tok",
        too_short.alias("too_short"),
        terminal.alias("has_terminal_punct"),
        brace.alias("has_brace"),
        lorem.alias("has_lorem"),
        ((F.col("n_tok") > 0) & ~word_len.between(3, 12)).alias(
            "degenerate_word_len"
        ),
        (~too_short & terminal & ~brace & ~lorem & sane_len).alias("keep"),
    )


CHUNK_TOKENS = 32  # chunk size (tokens); sized so the synthetic docs
CHUNK_STRIDE = 24  # (~45 tokens avg) genuinely produce multi-chunk output


@register(
    "chunk_documents",
    f"""
    WITH toked AS (
        SELECT doc_id,
               {TOKENS_SQL} AS toks
        FROM documents
    ),
    sized AS (
        SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
               CAST(CASE WHEN len(toks) <= {CHUNK_TOKENS} THEN 1
                    ELSE CAST(CEIL((len(toks) - {CHUNK_TOKENS})
                              / {CHUNK_STRIDE}.0) AS BIGINT) + 1
                    END AS BIGINT) AS n_chunks
        FROM toked
    )
    SELECT doc_id, n_tok,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(toks, i * {CHUNK_STRIDE} + 1,
                               i * {CHUNK_STRIDE} + {CHUNK_TOKENS}))
                AS BIGINT) AS n_tok_chunk,
           md5(array_to_string(
               list_slice(toks, i * {CHUNK_STRIDE} + 1,
                          i * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ')) AS chunk_md5
    FROM sized, unnest(generate_series(0, n_chunks - 1)) AS t(i)
    """,
    doc="Sliding-window document chunking (RAG / training-context prep): "
    "each doc splits into 32-token chunks at stride 24 (8-token overlap); "
    "every chunk carries its token count and an md5 fingerprint of its "
    "joined tokens, so chunk CONTENT is oracle-verified, not just counts. "
    "Tokenization and chunk-count arithmetic happen once per doc in a "
    "projection BEFORE the explode (no per-chunk re-tokenization — the "
    "HOF-CSE trap), and rows never shuffle: scan -> project -> explode "
    "-> project is one narrow pipeline at any scale.",
    tags=("llm", "text", "packing"),
)
def _chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    sized = toked.select(
        "doc_id",
        "toks",
        F.size("toks").cast("bigint").alias("n_tok"),
        F.when(F.size("toks") <= CHUNK_TOKENS, F.lit(1).cast("bigint"))
        .otherwise(
            F.ceil((F.size("toks") - CHUNK_TOKENS) / CHUNK_STRIDE).cast("bigint")
            + 1
        )
        .alias("n_chunks"),
    )
    exploded = sized.select(
        "doc_id",
        "n_tok",
        "toks",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_chunks") - 1)).alias(
            "chunk_idx"
        ),
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_idx").cast("int") * CHUNK_STRIDE + 1, CHUNK_TOKENS
    )
    return exploded.select(
        "doc_id",
        "n_tok",
        "chunk_idx",
        F.size(chunk).cast("bigint").alias("n_tok_chunk"),
        F.md5(F.concat_ws(" ", chunk).cast("binary")).alias("chunk_md5"),
    )


def _corpus_pipeline_oracle(clean: bool = False) -> str:
    """Oracle of the exact corpus pipelines, mirroring
    :func:`_survivors_mixture_pack`: near-dup survivors of the source ->
    mixture -> packing, each stage its standalone query's fragment. The
    source is ``documents``, or with ``clean`` the classifier-kept,
    eval-withheld, decontaminated corpus (:func:`_clean_corpus`)."""
    source = "clean" if clean else "documents"
    head = f"""quality_keep AS {qc_keep_sql()},
    contaminated AS {contaminated_ids_sql()},
    clean AS (
        SELECT d.doc_id, d.lang, d.text
        FROM documents d
        JOIN quality_keep q ON d.doc_id = q.doc_id
        LEFT JOIN contaminated c ON d.doc_id = c.doc_id
        WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) > '{EVAL_BUCKET_MAX}'
          AND c.doc_id IS NULL
    ),
    """ if clean else ""
    labels = cc_labels_sql(_ngram_jaccard_sql(JACCARD_THRESHOLD, source=source))
    return f"""
    WITH {head}losers AS (
        SELECT doc_id FROM {labels} cc WHERE cluster_id <> doc_id
    ),
    survivors AS (
        SELECT d.doc_id, d.lang, d.text
        FROM {source} d LEFT JOIN losers l ON d.doc_id = l.doc_id
        WHERE l.doc_id IS NULL
    )
    SELECT * FROM {pack_sql(mixture_keep_sql('survivors'), carry=('lang',))} packed
    """


def _survivors_mixture_pack(
    spark: SparkSession, base: DataFrame, labels: DataFrame
) -> DataFrame:
    """Shared tail of all four corpus pipelines: drop the non-keeper of
    every dedup cluster, mixture-sample the survivors, pack. The exact
    and LSH chains differ ONLY in how ``labels`` was produced, so keeping
    this tail in one place keeps them provably identical past dedup."""
    losers = labels.filter(F.col("cluster_id") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    # Persisted because mixture_keep consumes the survivor set TWICE —
    # once to derive the per-language rates, once for the keep join —
    # and without the persist each consumer re-ran the dedup anti-join
    # and the label chain above it (two corpus-sized subtree
    # evaluations for one). Production pipelines materialize exactly
    # this intermediate to the lake as the dedup snapshot (the
    # _clean_corpus rationale); the tracked in-memory persist is its
    # test-scale stand-in.
    survivors = tracked_persist(
        base.join(losers, "doc_id", "left_anti").select("doc_id", "lang", "text")
    )
    return pack_assign(mixture_keep(spark, survivors), carry=("lang",))


def _clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared head of the two FULL pipelines: scan-local classifier keep,
    eval-split withholding, decontamination anti-join. The cleaned corpus
    feeds every downstream stage (shingling, the survivor anti-join,
    mixture counting, packing) — without a persist, each consumer would
    re-run this subtree. At production scale this intermediate is WRITTEN
    to the lake as the clean snapshot (every real pipeline materializes
    it); the tracked in-memory persist is its test-scale stand-in."""
    # NOT fanned out (considered and rejected): the classifier lives
    # in a WHERE, and Catalyst pushes deterministic predicates below any
    # repartition — a fan_out here leaves the fold on the single-task
    # scan and adds a useless exchange above the join. Scan-local
    # filtering is the correct 100 TB shape (rows are dropped before
    # anything moves); the serialized sf0.1 cost is a one-row-group
    # test-file artifact that only affects the bench constant.
    docs = load_table(spark, sf_dir, "documents")
    contaminated = (
        _decontaminate(spark, sf_dir).filter("contaminated").select("doc_id")
    )
    return tracked_persist(
        docs.where(
            qc_keep_col(F.col("text"))
            & (hash_bucket(F.col("doc_id")) > EVAL_BUCKET_MAX)
        )
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "text")
    )


@register(
    "corpus_pipeline",
    _corpus_pipeline_oracle(),
    doc="The end-to-end corpus snapshot a training run consumes, as ONE "
    "lazy chain: near-dup removal (exact-Jaccard pairs -> connected "
    "components -> keep the min-id survivor per cluster), then "
    "language-mixture sampling with rates derived from the SURVIVOR "
    "counts, then 2048-token sequence packing of the sampled set. "
    "Oracle chains the identical recursive-CTE + mixture + packing SQL. "
    "Every stage is the already-verified operator; the composition "
    "proves they pipeline without materialization barriers (the CC "
    "iterations are the one inherent exception).",
    tags=("llm", "dedup", "curation", "packing"),
)
def _corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    labels = connected_components(exact_jaccard_pairs(docs, JACCARD_THRESHOLD))
    return _survivors_mixture_pack(spark, docs, labels)


@register(
    "corpus_pipeline_lsh",
    None,  # xxhash64 sketches are engine-specific; agreement with the exact
    # pipeline is asserted in tests/test_operators.py instead
    doc="The 100 TB shape of corpus_pipeline: MinHash+LSH near-dup pairs "
    "-> large-star/small-star connected components -> anti-join "
    "survivors -> mixture sampling -> 2048-token packing. Same chain as "
    "the oracle-checked corpus_pipeline but every dedup stage is the "
    "sketch/log-round variant (O(docs*k + candidates) candidates, "
    "O(log^2 n) CC rounds, no shingle self-join) — the composition a "
    "1000-executor corpus build would actually run. Rows-only check; "
    "tests assert its survivor set is a superset of the exact "
    "pipeline's with >=95% agreement and that sampling/packing "
    "decisions coincide on the shared survivors.",
    tags=("llm", "dedup", "curation", "packing", "approx"),
)
def _corpus_pipeline_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    labels = connected_components(minhash_dedup_pairs(docs))
    return _survivors_mixture_pack(spark, docs, labels)



@register(
    "pack_bin_stats",
    f"""
    SELECT bucket, bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           ROUND(SUM(n_tok) / {CONTEXT_TOKENS}.0, 4) AS fill_fraction
    FROM {pack_sql('documents')} packed
    GROUP BY bucket, bin_id
    """,
    doc="Packing observability: per (bucket, bin) document count, token "
    "count, and fill fraction vs the 2048-token budget — the fill-loss "
    "metric that tells an operator whether the hash-bucket count is "
    "matched to the corpus (tail bins with low fill mean too many "
    "buckets). One extra aggregate over the packing window output; "
    "fill_fraction can exceed 1 on the bin a long document spills past, "
    "which is exactly the signal a doc-splitting pre-pass would consume.",
    tags=("llm", "packing"),
)
def _pack_bin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = pack_assign(load_table(spark, sf_dir, "documents"))
    return packed.groupBy("bucket", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.round(F.sum("n_tok") / float(CONTEXT_TOKENS), 4).alias("fill_fraction"),
    )


TOKEN_BUDGET = 20_000  # per-source assembly budget for token_budget_sample


@register(
    "token_budget_sample",
    f"""
    WITH sized AS (
        SELECT doc_id, source,
               md5(CAST(doc_id AS VARCHAR)) AS ord_key,
               {_TOK_SQL} AS n_tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tok,
               COALESCE(SUM(n_tok) OVER (
                   PARTITION BY source ORDER BY ord_key, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM sized
    )
    SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(cum_before AS BIGINT) AS cum_tokens_before
    FROM c WHERE cum_before < {TOKEN_BUDGET}
    """,
    doc="Token-budgeted corpus assembly: per source, docs in deterministic "
    "md5 order are admitted while the running token total is under the "
    f"budget ({TOKEN_BUDGET:,} here) — 'give me N tokens per source', the "
    "assembly contract training runs actually specify, vs "
    "mixture_sample's proportional rates. The admitted set is a strict "
    "prefix, so it is stable under corpus growth: new docs sort into the "
    "md5 order and can only displace docs at the boundary, never reshuffle "
    "the interior. One window per source partition; source count is "
    "bounded, so partitions stay balanced at 100 TB (the same argument as "
    "the stratified sampler), and the md5 order key means no RNG state "
    "and retry-safe admission.",
    tags=("llm", "packing", "sampling"),
)
def _token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string").cast("binary")).alias("ord_key"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("ord_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = sized.select(
        "doc_id",
        "source",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("cum_tokens_before"),
    )
    return c.filter(F.col("cum_tokens_before") < TOKEN_BUDGET)


@register(
    "corpus_pipeline_full",
    _corpus_pipeline_oracle(clean=True),
    doc="The PRODUCTION corpus build, end to end and oracle-checked: "
    "model-based quality filtering (hashed-ngram classifier keep), "
    "eval-split withholding plus 3-gram decontamination, exact-Jaccard "
    "near-dup removal via connected components, language-mixture "
    "sampling over the survivors, and 2048-token packing — one chain of "
    "the five already-verified operators, proving they compose without "
    "semantic drift (the oracle chains the identical five SQL "
    "fragments). The sketch twin of every stage (classifier unchanged, "
    "LSH pairs, two-star CC) is what runs at 100 TB; this exact chain "
    "is the DuckDB-verifiable baseline the twins are tested against.",
    tags=("llm", "dedup", "curation", "packing", "text"),
)
def _corpus_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    clean = _clean_corpus(spark, sf_dir)
    labels = connected_components(exact_jaccard_pairs(clean, JACCARD_THRESHOLD))
    return _survivors_mixture_pack(spark, clean, labels)


@register(
    "corpus_pipeline_full_lsh",
    None,  # xxhash64 sketches are engine-specific; agreement with the
    # oracle-checked exact full pipeline is asserted in
    # tests/test_operators.py::test_corpus_pipeline_full_lsh_agrees_with_exact
    doc="The 100 TB shape of corpus_pipeline_full: identical quality-"
    "classifier keep and decontamination stages (both already scale — "
    "broadcast weight table, broadcast eval shingles), then MinHash+LSH "
    "pairs -> two-star connected components -> anti-join survivors -> "
    "mixture -> packing. This is the chain a 1000-executor production "
    "corpus build runs; the exact chain above is its DuckDB-verifiable "
    "baseline, and the two are held to >=95% packed-doc agreement.",
    tags=("llm", "dedup", "curation", "packing", "text", "approx"),
)
def _corpus_pipeline_full_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    clean = _clean_corpus(spark, sf_dir)
    labels = connected_components(minhash_dedup_pairs(clean))
    return _survivors_mixture_pack(spark, clean, labels)


@register(
    "conversation_assembly",
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS BIGINT)
                   AS turn
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           array_to_string(list(event_type ORDER BY turn), '>') AS turns_s
    FROM ordered
    WHERE turn <= 32
    GROUP BY user_id
    """,
    doc="Conversation/SFT-example assembly: each user's event stream "
    "becomes ONE training example — the first 32 turns in (ts, event_id) "
    "order, serialized as a single delimited sequence — the grouping-"
    "and-ordering shape every dialogue/SFT pipeline runs to turn a "
    "per-message log into per-conversation training rows. The turn cap "
    "is a rank filter, so Catalyst plans it as WindowGroupLimit("
    "Partial): every map partition truncates to its local first-32 per "
    "user BEFORE the shuffle, and a bot account with 10^7 events ships "
    "32 x partitions rows, not 10^7 — the same property plan-asserted "
    "for domain_cap_sample. The ordered serialization itself is a "
    "JVM-side array_sort + transform + concat_ws over structs (no UDF); "
    "per-key memory is bounded by the cap, unlike an uncapped "
    "collect_list.",
    tags=("llm", "packing", "text"),
)
def _conversation_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    turns = events.select(
        "user_id",
        "event_type",
        F.row_number().over(w).cast("bigint").alias("turn"),
    ).filter(F.col("turn") <= 32)
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("turn", "event_type"))),
        lambda s: s.event_type,
    )
    return turns.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.concat_ws(">", ordered).alias("turns_s"),
    )
