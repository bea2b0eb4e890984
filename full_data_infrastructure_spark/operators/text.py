"""Text analysis for LLM training-data pipelines (north-star extension):
token counting, language-ID heuristic, quality scoring, fingerprinting.

All hot-path logic is built-in JVM expressions (split / regexp / md5 /
aggregate) — no Python UDFs — so a 100 TB corpus pass stays inside
whole-stage codegen and scans prune to (doc_id, text).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from full_data_infrastructure_spark.queries import register
from full_data_infrastructure_spark.sources.parquet import fan_out, load_table

# Tiny per-language stopword lists for the n-gram/stopword language heuristic.
# Order matters: ties broken by list order (en > es > fr > de), then 'und'.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}

# BPE-ish pre-tokenizer: word pieces OR single non-space symbols (the GPT-2
# pre-tokenizer shape, simplified to an engine-portable character-class regex).
TOKEN_REGEX = "[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of lowercased text (empty strings removed)."""
    return F.filter(
        F.split(F.lower(col), "\\s+"), lambda t: F.length(t) > 0
    )


# DuckDB twin of tokens(col("text")), spliced into the oracles.
TOKENS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), t -> length(t) > 0)"


def stopword_hits(toks: Column, words: list[str]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(words)))


@register(
    "text_stats",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_measured,
           len({TOKENS_SQL}) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]'))
               AS n_bpe_tokens,
           CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                 / length(text) AS punct_ratio,
           CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
                 / length(text) AS space_ratio
    FROM documents
    WHERE length(text) > 0
    """,
    doc="Text statistics: char/word/BPE-ish token counts + punctuation and "
    "whitespace ratios — the standard quality-signal pass over a corpus.",
    tags=("llm", "text"),
)
def _text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.filter(F.length(text) > 0).select(
        "doc_id",
        F.length(text).alias("n_chars_measured"),
        F.size(tokens(text)).alias("n_tokens"),
        F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
        (
            F.length(F.regexp_replace(text, "[^.,;:!?]", "")).cast("double")
            / F.length(text)
        ).alias("punct_ratio"),
        (
            F.length(F.regexp_replace(text, "[^ ]", "")).cast("double")
            / F.length(text)
        ).alias("space_ratio"),
    )


def lang_argmax(langs: list[str]) -> Column:
    """Argmax over the ``score_<lang>`` columns: the earlier language in
    ``langs`` wins a tie, and 'und' when every score is 0."""
    pred = F.lit("und")
    # build backwards so earlier languages win ties
    for lang in reversed(langs):
        others = [o for o in langs if o != lang]
        before = langs[: langs.index(lang)]
        cond = F.col(f"score_{lang}") > 0
        for o in others:
            cond = cond & (F.col(f"score_{lang}") >= F.col(f"score_{o}"))
        for b in before:
            cond = cond & (F.col(f"score_{lang}") > F.col(f"score_{b}"))
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pred


def lang_argmax_sql(langs: list[str]) -> str:
    """DuckDB twin of :func:`lang_argmax`: a ``CASE`` over the
    ``score_<lang>`` columns with the same tie priority and 'und'."""
    when_chain = "CASE\n"
    for lang in langs:
        others = [o for o in langs if o != lang]
        before = langs[: langs.index(lang)]
        conds = [f"score_{lang} > 0"]
        conds += [f"score_{lang} >= score_{o}" for o in others]
        conds += [f"score_{lang} > score_{b}" for b in before]  # earlier wins ties
        when_chain += f"        WHEN {' AND '.join(conds)} THEN '{lang}'\n"
    return when_chain + "        ELSE 'und' END"


def _lang_id_sql() -> str:
    """DuckDB oracle mirroring the Spark stopword-score argmax exactly."""
    scores = ",\n           ".join(
        f"len(list_filter(toks, t -> t IN ({', '.join(repr(w) for w in words)})))"
        f" AS score_{lang}"
        for lang, words in LANG_STOPWORDS.items()
    )
    return f"""
    WITH toks AS (
        SELECT doc_id,
               {TOKENS_SQL} AS toks
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
           {scores}
        FROM toks
    )
    SELECT doc_id, {lang_argmax_sql(list(LANG_STOPWORDS))} AS lang_pred
    FROM scored
    """


@register(
    "lang_id",
    _lang_id_sql(),
    doc="Language-ID heuristic (stopword-list scoring with deterministic "
    "argmax; 'und' when no signal) — the n-gram-free baseline classifier.",
    tags=("llm", "text"),
)
def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        *[
            stopword_hits(toks, words).alias(f"score_{lang}")
            for lang, words in LANG_STOPWORDS.items()
        ],
    )
    return scored.select("doc_id", lang_argmax(list(LANG_STOPWORDS)).alias("lang_pred"))


# Characteristic character trigrams per language (frequency-profile
# heuristic, cf. Cavnar & Trenkle n-gram text categorization). Same
# tie-priority order as LANG_STOPWORDS.
LANG_TRIGRAMS: dict[str, list[str]] = {
    "en": [" th", "the", "ing", " an", " of"],
    "es": [" de", "la ", "ión", " qu", "os "],
    "fr": [" le", " la", "ent", "que", "aux"],
    "de": ["der", "ein", "sch", "ich", "und"],
}


def trigram_hits(text: Column, gram: str) -> Column:
    """Occurrence count of a literal trigram via length difference —
    pure codegen (no regex engine), identical semantics on any engine."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(gram), F.lit(""))))
        / 3
    ).cast("int")


def _lang_id_trigram_sql() -> str:
    scores = ",\n           ".join(
        "("
        + " + ".join(
            f"CAST((length(t) - length(replace(t, '{g}', ''))) / 3 AS INTEGER)"
            for g in grams
        )
        + f") AS score_{lang}"
        for lang, grams in LANG_TRIGRAMS.items()
    )
    return f"""
    WITH lowered AS (
        SELECT doc_id, lower(text) AS t FROM documents
    ),
    scored AS (
        SELECT doc_id,
           {scores}
        FROM lowered
    )
    SELECT doc_id, {lang_argmax_sql(list(LANG_TRIGRAMS))} AS lang_pred
    FROM scored
    """


@register(
    "lang_id_trigram",
    _lang_id_trigram_sql(),
    doc="Language-ID via character-trigram profile counts (Cavnar-Trenkle "
    "shape): occurrences of each language's characteristic trigrams, "
    "deterministic argmax, 'und' on no signal. Counting is "
    "length-after-replace arithmetic — no regex, fully codegen'd; "
    "complements the stopword-based lang_id.",
    tags=("llm", "text"),
)
def _lang_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lowered = docs.select("doc_id", F.lower("text").alias("t"))
    scored = lowered.select(
        "doc_id",
        *[
            sum(
                (trigram_hits(F.col("t"), g) for g in grams[1:]),
                trigram_hits(F.col("t"), grams[0]),
            ).alias(f"score_{lang}")
            for lang, grams in LANG_TRIGRAMS.items()
        ],
    )
    return scored.select("doc_id", lang_argmax(list(LANG_TRIGRAMS)).alias("lang_pred"))


@register(
    "quality_score",
    f"""
    WITH feats AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len({TOKENS_SQL}) AS n_tokens,
               len(list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t IN ('the', 'a', 'of', 'and', 'to')))
                   AS n_stop
        FROM documents
        WHERE length(text) > 0
    ),
    scored AS (
        SELECT doc_id,
               0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                 + 0.4 * LEAST(5.0 * CAST(n_stop AS DOUBLE)
                               / CAST(n_tokens AS DOUBLE), 1.0)
                 + 0.2 * CASE WHEN n_chars BETWEEN 50 AND 10000 THEN 1.0 ELSE 0.0 END
                   AS quality
        FROM feats
    )
    SELECT doc_id, quality,
           CASE WHEN quality >= 0.5 THEN true ELSE false END AS keep
    FROM scored
    """,
    doc="Composite document quality score (length + stopword-density + "
    "char-bounds heuristics), with a keep/drop gate — the C4-style "
    "filter shape.",
    tags=("llm", "text"),
)
def _quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = tokens(F.col("text"))
    feats = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        stopword_hits(toks, LANG_STOPWORDS["en"]).alias("n_stop"),
    )
    score = (
        0.4 * F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0))
        + 0.4
        * F.least(
            5.0 * F.col("n_stop").cast("double") / F.col("n_tokens").cast("double"),
            F.lit(1.0),
        )
        + 0.2
        * F.when(F.col("n_chars").between(50, 10000), 1.0).otherwise(0.0)
    )
    return feats.select(
        "doc_id",
        score.alias("quality"),
        (score >= 0.5).alias("keep"),
    )


@register(
    "fingerprint_md5",
    """
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
    doc="Document fingerprint: md5 over whitespace-normalized lowercase text "
    "— the exact-dedup key for a 100 TB corpus (hash once, group on 16 "
    "bytes instead of full text).",
    tags=("llm", "text", "dedup"),
)
def _fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.lower(F.trim(F.regexp_replace("text", "\\s+", " ")))
    return docs.select("doc_id", F.md5(normalized).alias("fingerprint"))


@register(
    "rolling_hash_fingerprint",
    None,  # xxhash64-based — engine-specific hash, rows-only check
    doc="Shingle-level rolling fingerprint: xxhash64 of each 5-token window, "
    "min-pooled per doc (winnowing-style). Engine-specific hash => no SQL "
    "oracle; partitioning-stability, an independent explode+groupBy "
    "formulation of the shingle definition, and the >=5-token gate are "
    "pinned by tests/test_operators.py::"
    "test_rolling_hash_fingerprint_stability_and_shingle_semantics.",
    tags=("llm", "text", "dedup"),
)
def _rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    with_toks = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 5)
    # 5-token shingles via transform over positions; xxhash64 per shingle.
    n = F.size("toks") - 4
    shingle_hashes = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice("toks", i + 1, 5))),
    )
    return with_toks.select(
        "doc_id",
        F.array_min(shingle_hashes).alias("min_shingle_hash"),
        F.array_max(shingle_hashes).alias("max_shingle_hash"),
    )


# Winnowing fingerprint parameters (Schleimer/Wilkerson/Aiken, SIGMOD'03):
# 5-token shingles hashed with a portable polynomial rolling hash, then the
# minimum of every window of 4 consecutive shingle hashes is kept — the
# guarantee is that any shared run of >= 8 tokens between two documents
# yields at least one shared fingerprint.
_POLY_BASE = 257
_POLY_MOD = 1_000_000_007  # < 2^31, so acc*base + char stays far under 2^63
_WINNOW_WINDOW = 4


def _poly_hash(s):
    """Polynomial rolling hash of a string column, char-at-a-time:
    fold (acc * 257 + codepoint) mod 1e9+7 over the characters.  Pure
    arithmetic on BIGINTs — bit-identical in any engine, unlike
    xxhash64/md5 whose byte-order/availability differ, which is what
    makes the winnowing twin oracle-checkable."""
    return F.aggregate(
        F.sequence(F.lit(1), F.length(s)),
        F.lit(0).cast("long"),
        lambda acc, j: (acc * _POLY_BASE + F.ascii(s.substr(j, F.lit(1))))
        % _POLY_MOD,
    )


@register(
    "winnowing_fingerprint",
    f"""
    WITH toks AS (
        SELECT doc_id,
               {TOKENS_SQL} AS t
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_transform(
                 list_transform(generate_series(1, len(t) - 4),
                                i -> array_to_string(list_slice(t, i, i + 4), ' ')),
                 s -> list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                          list_transform(generate_series(1, length(s)),
                            j -> CAST(unicode(substr(s, CAST(j AS INT), 1)) AS BIGINT))),
                        (acc, x) -> (acc * {_POLY_BASE} + x) % {_POLY_MOD})) AS hs
        FROM toks
        WHERE len(t) >= {4 + _WINNOW_WINDOW}
    ),
    winnowed AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 generate_series(1, len(hs) - {_WINNOW_WINDOW - 1}),
                 p -> list_min(list_slice(hs, p, p + {_WINNOW_WINDOW - 1})))) AS fps
        FROM sh
    )
    SELECT doc_id,
           CAST(len(fps) AS BIGINT) AS n_fps,
           CAST(list_min(fps) AS BIGINT) AS fp_min,
           CAST(list_max(fps) AS BIGINT) AS fp_max
    FROM winnowed
    """,
    doc="Winnowing document fingerprint (Schleimer/Wilkerson/Aiken): "
    "polynomial-rolling-hash each 5-token shingle, keep the min of every "
    "4-shingle window, distinct the kept set — any shared >=8-token run "
    "between two documents is guaranteed a shared fingerprint, the "
    "plagiarism/near-dup detection contract rolling_hash_fingerprint's "
    "min/max pooling cannot give. The hash is pure BIGINT arithmetic "
    "(fold acc*257+codepoint mod 1e9+7 over chars), so unlike the "
    "xxhash64 twin this one is bit-identical cross-engine and "
    "oracle-checked end-to-end. Per-doc work is O(len) inside one "
    "projection — no explode, no shuffle; the scan prunes to "
    "(doc_id, text).",
    tags=("llm", "text", "dedup"),
)
def _winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Materialize fps in its own projection: it feeds three outputs, and
    # CollapseProject would otherwise be free to inline the (expensive)
    # winnowing transform three times.
    return winnowing_fingerprints(docs).select(
        "doc_id",
        F.size("fps").cast("bigint").alias("n_fps"),
        F.array_min("fps").alias("fp_min"),
        F.array_max("fps").alias("fp_max"),
    )


def winnowing_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fps array<bigint>): the distinct winnowed fingerprint set
    per document — the SWA'03 guarantee is that two documents sharing any
    run of >= 4 + _WINNOW_WINDOW tokens share at least one fingerprint
    (pytest-asserted). Exposed separately from the registered summary
    query so consumers (and the guarantee test) can join on the sets."""
    with_toks = docs.select(
        "doc_id", tokens(F.col("text")).alias("t")
    ).filter(F.size("t") >= 4 + _WINNOW_WINDOW)
    shingle_strs = F.transform(
        F.sequence(F.lit(1), F.size("t") - 4),
        lambda i: F.concat_ws(" ", F.slice("t", i, 5)),
    )
    hashed = with_toks.select(
        "doc_id", F.transform(shingle_strs, _poly_hash).alias("hs")
    )
    winnowed = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("hs") - (_WINNOW_WINDOW - 1)),
            lambda p: F.array_min(F.slice("hs", p, _WINNOW_WINDOW)),
        )
    )
    return hashed.select("doc_id", winnowed.alias("fps"))


@register(
    "vocab_topk",
    f"""
    WITH toks AS (
        SELECT unnest({TOKENS_SQL}) AS tok
        FROM documents
    )
    SELECT tok, COUNT(*) AS n
    FROM toks
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 100
    """,
    doc="Vocabulary induction: corpus-wide token frequencies, top 100 with "
    "a deterministic tiebreak — the seed list for tokenizer training. "
    "Explode + hash aggregate (map-side combine) + TakeOrderedAndProject; "
    "the shuffle carries (token, partial count), never text.",
    tags=("llm", "text"),
)
def _vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(100)
    )


@register(
    "tfidf_top_token",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest({TOKENS_SQL}) AS tok
        FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
    ),
    df AS (
        SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
    scored AS (
        SELECT tf.doc_id, tf.tok, tf.tf, df.df,
               tf.tf * ((n.n_docs + 1.0) / (df.df + 1.0)) AS score
        FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    )
    SELECT doc_id, tok, tf, df, score
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
        FROM scored
    )
    WHERE rn = 1
    """,
    doc="Most-distinctive token per document by rarity-weighted frequency: "
    "tf * (N+1)/(df+1) — a rational TF-IDF variant (no transcendental "
    "log, so scores are bit-identical across engines; same ranking "
    "intent). Two hash aggregates + a broadcast of the tiny doc-frequency "
    "table + one window. The keyword-extraction pass of a corpus "
    "profiler.",
    tags=("llm", "text"),
    exact_float_cols=("score",),
)
def _tfidf_top_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # Corpus size stays inside the lazy plan as a broadcast 1-row aggregate
    # (mirrors the oracle's CROSS JOIN n): an eager .count() here would run
    # a full extra corpus scan before the returned plan even executes.
    n = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            (
                F.col("tf")
                * ((F.col("n_docs").cast("double") + 1.0) / (F.col("df") + 1.0))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "tok", "tf", "df", "score")
    )


# ---------------------------------------------------------------------------
# Model-based quality filtering (hashed n-gram linear classifier)
# ---------------------------------------------------------------------------

QC_BUCKETS = 256  # feature-hash buckets (one per md5-hex-prefix byte)
QC_SCALE = 2_147_483_648  # 2^31 — the weight lattice denominator


def _qc_weight(bucket: int) -> int:
    """Deterministic integer weight in [-2^30, 2^30): the same LCG family
    as similarity.lcg_plane_value, kept on the INTEGER lattice so per-doc
    weight sums are exact (order-free) and the only float op is one final
    division — no cross-engine accumulation-order hazard."""
    return ((1103515245 * bucket + 12345) % QC_SCALE) - QC_SCALE // 2


def _qc_grams(toks: Column) -> Column:
    """A token array's unigrams followed by its space-joined bigrams."""
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.concat(toks, bigrams)


def _qc_weight_sum(grams: Column) -> Column:
    """Integer classifier weight summed over a gram array, folded in place:
    w(g) = ((1103515245 * int(md5(g)[:2], 16) + 12345) % 2^31) - 2^30 —
    :func:`_qc_weight` of the gram's md5 bucket, evaluated inline (conv()
    on the hex prefix; all operands positive, so Spark's ``%`` equals the
    mathematical mod)."""

    def gram_weight(g):
        bucket = F.conv(F.substring(F.md5(g), 1, 2), 16, 10).cast("bigint")
        return (
            F.lit(1103515245).cast("bigint") * bucket + F.lit(12345)
        ) % F.lit(QC_SCALE) - F.lit(QC_SCALE // 2)

    return F.aggregate(
        grams, F.lit(0).cast("bigint"), lambda acc, g: acc + gram_weight(g)
    )


def quality_classifier_scores(docs: DataFrame) -> DataFrame:
    """fastText-shaped quality scorer (Joulin et al. 2016 architecture,
    deterministic stand-in weights): features are word unigrams + bigrams
    feature-HASHED into 256 buckets via an md5 hex-prefix, score is the
    mean bucket weight. In production the weight table is a trained
    model's — the engine surface (hash, lookup, mean, threshold) is
    identical; here it is the LCG lattice so the DuckDB oracle recomputes
    it exactly.

    Scale shape: the whole scorer is scan-local codegen — ZERO exchanges,
    zero joins. The weight "table" is a pure function of the bucket byte,
    so instead of exploding grams, broadcast-joining a 256-row weight
    frame and re-aggregating by doc_id, each row folds its own gram array
    (:func:`_qc_weight_sum`). The per-doc integer sum is
    associative/commutative, so the result is bit-identical to that
    join+groupBy form. At 100 TB this avoids the corpus-sized gram explode
    AND the per-doc shuffle: the scorer is a map-only pass.
    """
    toks = docs.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    grams = toks.select("doc_id", _qc_grams(F.col("toks")).alias("grams"))
    scored = grams.select(
        "doc_id",
        _qc_weight_sum(F.col("grams")).alias("sw"),
        F.size("grams").cast("bigint").alias("n_grams"),
    )
    return scored.select(
        "doc_id",
        "n_grams",
        F.round(F.col("sw") / (F.col("n_grams") * F.lit(float(QC_SCALE))), 6).alias(
            "score"
        ),
        (F.col("sw") > 0).cast("int").alias("keep"),
    )


def _qc_scored_ctes() -> str:
    """CTE items ending in ``scored`` (doc_id, sw = integer weight sum,
    ng = gram count) over ``documents`` — the classifier's oracle core,
    shared by quality_classifier and :func:`qc_keep_sql`."""
    return f"""toks AS (
        SELECT doc_id,
               {TOKENS_SQL} AS toks
        FROM documents
    ),
    nonempty AS (SELECT * FROM toks WHERE len(toks) > 0),
    grams AS (
        SELECT doc_id, g FROM nonempty, UNNEST(toks) AS u(g)
        UNION ALL
        SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
        FROM nonempty, UNNEST(range(1, len(toks))) AS r(i)
    ),
    w AS (
        SELECT printf('%02x', i) AS bucket,
               (1103515245 * i + 12345) % {QC_SCALE} - {QC_SCALE // 2} AS w_int
        FROM range({QC_BUCKETS}) t(i)
    ),
    scored AS (
        SELECT doc_id, SUM(w.w_int) AS sw, COUNT(*) AS ng
        FROM grams JOIN w ON substr(md5(grams.g), 1, 2) = w.bucket
        GROUP BY doc_id
    )"""


@register(
    "quality_classifier",
    f"""
    WITH {_qc_scored_ctes()}
    SELECT doc_id, CAST(ng AS BIGINT) AS n_grams,
           ROUND(sw / (ng * {QC_SCALE}.0), 6) AS score,
           CAST(sw > 0 AS INT) AS keep
    FROM scored
    """,
    doc="Model-based quality filter (the fastText-classifier stage of "
    "C4/CCNet-style pipelines): word unigram+bigram features hashed to "
    "256 md5 buckets, a broadcast integer weight table, per-doc mean "
    "weight as the quality logit, keep = logit > 0 decided on the exact "
    "integer sum. Deterministic LCG weights stand in for trained ones, "
    "making the whole scorer oracle-checkable; the engine surface is "
    "unchanged by swapping in a real model's weights.",
    tags=("llm", "text", "curation"),
)
def _quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The scorer is now map-only (zero exchanges), so a single-row-group
    # scan would run it on one core — fan the scan out first (no-op at
    # scale, see fan_out).
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return quality_classifier_scores(docs)


@register(
    "bpe_pair_counts",
    f"""
    WITH toks AS (
        SELECT unnest({TOKENS_SQL}) AS tok
        FROM documents
    ),
    words AS (
        SELECT tok, COUNT(*) AS n FROM toks WHERE length(tok) >= 2 GROUP BY tok
    ),
    pairs AS (
        SELECT substring(w.tok, CAST(i AS INTEGER), 2) AS pair, w.n
        FROM words w, LATERAL unnest(range(1, length(w.tok))) AS t(i)
    )
    SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt
    FROM pairs
    GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT 50
    """,
    doc="One BPE-training iteration: corpus-weighted counts of adjacent "
    "character pairs, the argmax of which is the next merge rule "
    "(Sennrich et al., 'Neural Machine Translation of Rare Words with "
    "Subword Units'). The 100 TB shape aggregates the corpus to its "
    "DISTINCT words first (one token-keyed shuffle, the same map-side-"
    "combined aggregate vocab_topk uses), so the character-pair explode "
    "and second aggregate run over the vocabulary — millions of short "
    "strings — never the corpus. Pure JVM expressions (sequence + "
    "transform + substring); top-50 with a deterministic tiebreak.",
    tags=("extension", "llm", "text"),
)
def _bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .where(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1),"
                " i -> substring(tok, i, 2))"
            )
        ).alias("pair"),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(50)
    )


def qc_keep_sql() -> str:
    """Parenthesized subquery of the doc_ids the quality classifier KEEPS
    (positive integer weight sum) — the reusable oracle fragment
    corpus_pipeline_full chains in front of dedup."""
    return f"""(
    WITH {_qc_scored_ctes()}
    SELECT doc_id FROM scored WHERE sw > 0)"""


def qc_keep_col(text_col: Column | str) -> Column:
    """Scan-local form of the classifier's keep decision: the same
    :func:`_qc_grams` features and :func:`_qc_weight_sum` fold as
    :func:`quality_classifier_scores`, as one Column — no explode, no
    weight-table join, no shuffle. This is what lets
    corpus_pipeline_full filter the corpus at the scan instead of
    shuffling document text through a keep-id join: at 100 TB the filter
    costs zero extra data movement. (With a trained model the 256-bucket
    weight table inlines the same way as a CASE/map literal; only the
    arithmetic shortcut is specific to the LCG stand-in.)

    ``keep`` requires at least one token, matching the scores builder's
    ``size(toks) > 0`` filter.
    """
    toks = tokens(text_col)
    return (F.size(toks) > 0) & (_qc_weight_sum(_qc_grams(toks)) > 0)


BPE_MERGES = 8  # merges learned by the bpe_learn surface
BPE_TOP_WORDS = 4096  # driver-side vocabulary cap for the merge loop


def bpe_learn_merges(
    docs: DataFrame, n_merges: int = BPE_MERGES, top_words: int = BPE_TOP_WORDS
):
    """Learn ``n_merges`` BPE merge rules from the corpus (Sennrich et al.):
    Spark does the CORPUS-sized work — one token-keyed count aggregate and
    a deterministic top-``top_words`` truncation (count desc, token asc) —
    and the driver runs the merge loop over the resulting word-frequency
    list, which is vocabulary-sized regardless of corpus size. This is the
    architecture production BPE trainers use (train on word counts, not
    raw text); the top-words cap is the standard rare-word prune that
    bounds driver memory at any scale.

    Ties break deterministically: highest pair count, then lexicographic
    (left, right) — so the learned merges are identical across runs,
    partitionings, and engines. Returns a list of
    (rank, left, right, pair_count) tuples.
    """
    words = [
        (r.tok, r.n)
        for r in docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .where(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(top_words)
        .collect()
    ]
    symbolized = [(tuple(tok), n) for tok, n in words]
    merges = []
    for rank in range(n_merges):
        counts: dict = {}
        for syms, n in symbolized:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((rank, left, right, cnt))
        merged = left + right
        out = []
        for syms, n in symbolized:
            new_syms, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    new_syms.append(merged)
                    i += 2
                else:
                    new_syms.append(syms[i])
                    i += 1
            out.append((tuple(new_syms), n))
        symbolized = out
    return merges


@register(
    "bpe_learn",
    None,  # the merge loop is iterative (not SQL-expressible); rank-0
    # equality with the oracle-checked bpe_pair_counts argmax, greedy
    # monotonicity, and partitioning-invariance are pytest-asserted, and
    # the full ranked merge list equals an independent pure-Python
    # Sennrich mirror on arbitrary hypothesis corpora (test_properties.py
    # ::test_bpe_learn_and_apply_match_pure_python_mirror)
    doc="BPE tokenizer TRAINING: the greedy merge loop over corpus word "
    "frequencies, 8 ranked merge rules out. Spark reduces the corpus to "
    "its word-count list (the same single token-keyed aggregate "
    "vocab_topk pays) truncated to a deterministic top-4096; the "
    "vocabulary-sized merge loop runs on the driver, as production BPE "
    "trainers do. Rank-0 must equal the argmax of the oracle-checked "
    "bpe_pair_counts (asserted), each merge's count is non-increasing "
    "in rank over a fixed-point corpus (greedy invariant), and the "
    "rules are bit-identical under any input partitioning.",
    tags=("extension", "llm", "text"),
)
def _bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_learn_merges(docs)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long"
    )


def bpe_apply_counts(docs: DataFrame, merges) -> DataFrame:
    """Per-document token count under a learned BPE vocabulary: whitespace
    pre-tokenize, then apply ``merges`` (rank-ordered (left, right) rules)
    to each word with the canonical leftmost-lowest-rank merge loop.

    The merge loop is genuinely data-dependent control flow (string-level
    ``replace`` mis-merges across symbol boundaries — 'xe r' contains
    'e r'), so this runs in the Arrow-batched Pandas seam the engine
    reserves for semantics built-ins can't express; the rule list rides
    the closure (a broadcast literal, vocabulary-sized). Per-word results
    are memoized per batch — corpora repeat words, so the loop runs once
    per DISTINCT word per batch, not once per token. Map-only: no
    shuffle, output is one integer per document.
    """
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_word(word: str, memo: dict) -> int:
        got = memo.get(word)
        if got is not None:
            return got
        syms = list(word)
        while len(syms) > 1:
            best, best_rank = None, None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            syms[best : best + 2] = [syms[best] + syms[best + 1]]
        memo[word] = len(syms)
        return len(syms)

    def count_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            memo: dict = {}
            # NULL text null-propagates (the tokens() convention every
            # sibling text operator inherits) instead of crashing the task.
            counts = [
                None
                if text is None
                else sum(encode_word(w, memo) for w in text.lower().split())
                for text in pdf["text"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "n_bpe_tokens": counts})

    return docs.select("doc_id", "text").mapInPandas(
        count_batches, "doc_id long, n_bpe_tokens long"
    )


@register(
    "bpe_tokenize_counts",
    None,  # merges are learned at run time (data-dependent), so no static
    # SQL oracle; parity with an independent fixpoint reference encoder is
    # pytest-asserted in tests/test_operators.py::TestBpeLearn and, on
    # arbitrary hypothesis corpora with the train loop mirrored too, in
    # test_properties.py::test_bpe_learn_and_apply_match_pure_python_mirror
    doc="Tokenizer APPLICATION closing the train->apply loop: per-document "
    "token counts under the 8 merges bpe_learn produced — the count a "
    "packing/budgeting stage should use once a real tokenizer exists, "
    "replacing the whitespace proxy. Train is two corpus-sized "
    "aggregates; apply is one map-only Arrow-batched pass with the "
    "rank-ordered rules broadcast in the closure and per-batch "
    "word-level memoization.",
    tags=("extension", "llm", "text"),
)
def _bpe_tokenize_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    merges = [(left, right) for _rank, left, right, _cnt in bpe_learn_merges(docs)]
    return bpe_apply_counts(docs, merges)


@register(
    "rare_bigram_quality",
    f"""
    WITH toks AS (
        SELECT doc_id,
               {TOKENS_SQL} AS tk
        FROM documents
    ),
    idx AS (
        SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks
    ),
    bi AS (
        SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bigram FROM idx
    ),
    occ AS (
        SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS k
        FROM bi GROUP BY doc_id, bigram
    ),
    gcnt AS (
        SELECT bigram, CAST(SUM(k) AS BIGINT) AS g FROM occ GROUP BY bigram
    )
    SELECT o.doc_id,
           CAST(SUM(o.k) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(CASE WHEN gl.g <= 2 THEN o.k ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(o.k) AS DOUBLE), 4) AS rare_frac
    FROM occ o JOIN gcnt gl ON gl.bigram = o.bigram
    GROUP BY o.doc_id
    """,
    doc="Cross-document rare-bigram fraction — the corpus-statistics "
    "quality signal the per-doc Gopher repetition rules can't see: a "
    "document whose word pairs almost never recur anywhere in the corpus "
    "is gibberish/OCR noise (the cheap integer-count proxy for the KenLM "
    "perplexity filter CCNet uses, with no cross-engine log/float "
    "hazard — counts stay integers until ONE double division and a 4dp "
    "round). Scale: per-doc bigram counts partial-aggregate map-side; "
    "the global-frequency join is on the bigram key with the per-doc "
    "count table (already collapsed, never the raw occurrence stream) "
    "on both sides, and the persisted occ table feeds both the global "
    "counts and the join, so the explode runs once.",
    tags=("llm", "text", "quality"),
)
def _rare_bigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from full_data_infrastructure_spark.cache import tracked_persist

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tk = tokens("text")
    with_tk = docs.select("doc_id", tk.alias("tk")).filter(F.size("tk") >= 2)
    bigram = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - 1),
            lambda i: F.concat(
                F.element_at("tk", i), F.lit(" "), F.element_at("tk", i + 1)
            ),
        )
    )
    occ = tracked_persist(
        with_tk.select("doc_id", bigram.alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    glob = occ.groupBy("bigram").agg(F.sum("k").alias("g"))
    return (
        occ.join(glob, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.round(
                F.sum(F.when(F.col("g") <= 2, F.col("k")).otherwise(F.lit(0)))
                .cast("double")
                / F.sum("k").cast("double"),
                4,
            ).alias("rare_frac"),
        )
    )


@register(
    "lang_confusion_matrix",
    f"""
    SELECT d.lang, p.lang_pred, CAST(COUNT(*) AS BIGINT) AS n
    FROM ({_lang_id_sql()}) p
    JOIN documents d ON d.doc_id = p.doc_id
    GROUP BY d.lang, p.lang_pred
    """,
    doc="Classifier-QA confusion matrix: the lang_id heuristic's "
    "predictions cross-tabulated against the corpus's stored language "
    "labels — the agreement report every classifier rollout publishes "
    "before its output gates a filter (which languages does the "
    "heuristic systematically miss, and how much lands in 'und'). "
    "Composes the oracled lang_id kernel with a label join + one "
    "map-side-combined count; the matrix is |langs|^2-bounded at any "
    "corpus scale.",
    tags=("llm", "text", "quality"),
)
def _lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = _lang_id(spark, sf_dir)
    return (
        pred.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
