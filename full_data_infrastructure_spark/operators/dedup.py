"""Deduplication operators for LLM training data (north-star extension):
exact (hash-groupBy), n-gram Jaccard (exact pairwise), MinHash+LSH (the
100 TB path), SimHash, and embedding-cosine near-dup.

Scale design
------------
* **Exact dedup** groups on a 128-bit md5 fingerprint, not the full text —
  the shuffle carries 16 bytes + doc_id per row.
* **Exact n-gram Jaccard** is the correctness baseline: the shingle
  self-join is O(sum over shingles of pairs) and only safe when shingle
  frequencies are bounded; it exists to calibrate/verify the sketches.
* **MinHash+LSH** is the production path: k=32 hash functions (xxhash64
  with k seeds), banded into b=8 bands of r=4 → candidate pairs only for
  docs sharing a band, then exact-Jaccard verification of candidates. Work
  is O(docs * k + candidates), never O(docs^2).
* **SimHash** pools signed token hashes into a 64-bit signature; candidate
  generation splits it into 4 x 16-bit bands (Hamming <= 3 guarantees two
  equal bands ... pigeonhole on 4 bands), verified with bit_count(xor).
* All hash-sketch outputs are rows-only checked (engine-specific hash
  functions have no DuckDB twin); recall vs the exact baseline is asserted
  in tests/test_operators.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from full_data_infrastructure_spark.cache import tracked_persist
from full_data_infrastructure_spark.functions.vector import cosine_sql, rounded_cosine
from full_data_infrastructure_spark.operators.similarity import (
    load_embeddings,
    nearest_cell,
    stride_centroids,
)
from full_data_infrastructure_spark.operators.text import TOKENS_SQL, tokens
from full_data_infrastructure_spark.queries import register
from full_data_infrastructure_spark.sources.parquet import fan_out, load_table

NGRAM = 3
MINHASH_K = 32
LSH_BANDS = 8  # r = K / BANDS = 4 rows per band
JACCARD_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 3
# Star rounds connected_components may run before it gives up.
CC_MAX_ROUNDS = 30


def normalized_text() -> Column:
    """``text`` lowercased, trimmed, with whitespace runs collapsed."""
    return F.lower(F.trim(F.regexp_replace("text", "\\s+", " ")))


def word_shingles(toks: Column) -> Column:
    """Distinct word NGRAM-gram shingles of a token array (JVM-side
    transform).

    Built from NGRAM aligned ``slice`` views folded with ``zip_with`` — NOT
    ``sequence`` + per-index ``element_at``, which re-evaluates the whole
    token-array expression per element (no common-subexpression elimination
    across lambda boundaries; ~20x slower measured at sf0.1).

    ``gram_count`` is clamped at zero so arrays shorter than NGRAM yield
    an EMPTY shingle array instead of a negative slice length (a runtime
    error): callers that explode need no guarding pre-filter, which
    matters because such a filter re-runs the whole tokenizer below any
    fan_out exchange when the optimizer pushes it down (measured: the
    pushed filter serialized tokenization back onto the single scan task
    the exchange existed to escape).
    """
    gram_count = F.greatest(F.size(toks) - (NGRAM - 1), F.lit(0))
    return F.array_distinct(_ngram_array(toks, gram_count))


def _ngram_array(toks: Column, gram_count: Column) -> Column:
    """The first ``gram_count`` space-joined word NGRAM-grams of ``toks``,
    in position order (duplicates kept): NGRAM aligned ``slice`` views
    folded with ``zip_with``."""
    parts = [F.slice(toks, j + 1, gram_count) for j in range(NGRAM)]
    acc = parts[-1]
    for prev in reversed(parts[:-1]):
        acc = F.zip_with(prev, acc, lambda a, b: F.concat_ws(" ", a, b))
    return acc


def exploded_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) pairs, distinct per doc; docs shorter than NGRAM drop.

    Tokens are materialized through a projection first so the ``split`` runs
    once per row, not once per downstream reference.
    """
    # fan_out BEFORE tokenization: the tokenize/shingle/hash chain is the
    # expensive part of every dedup query, and a small single-row-group
    # scan would otherwise run it on one core (see fan_out's docstring;
    # structural no-op at scale). Applied to the two-column projection so
    # the exchange, when it exists at all, carries only (id, text). No
    # size(toks) pre-filter: it would push below the exchange and re-run
    # the tokenizer on the lone scan task — short docs instead produce an
    # empty shingle array (word_shingles clamps) that explode drops.
    tokd = fan_out(docs.select("doc_id", "text")).select(
        "doc_id", tokens("text").alias("toks")
    )
    return tokd.select(
        "doc_id", F.explode(word_shingles(F.col("toks"))).alias("sh")
    )


def exact_jaccard_pairs(
    docs: DataFrame, threshold: float, max_df: int | None = None
) -> DataFrame:
    """Pairwise word-shingle Jaccard via shingle self-join (exact baseline).

    Returns (doc_a, doc_b, jaccard) for doc_a < doc_b, jaccard >= threshold.

    The shingle table feeds THREE consumers (sizes + both self-join sides),
    so it is persisted once as 8-byte hashed keys instead of re-derived
    from the text per consumer (same shape as the minhash path: the
    self-join shuffles integers, never shingle strings; a 2^-64 collision
    could merge two shingles corpus-wide — below any practical concern and
    identical to the accepted hashed-verification tradeoff). Measured at
    sf0.1: 8.6s -> ~3s for the pairs stage.

    ``max_df`` is the hot-shingle guard that makes the baseline safe to
    run at sf >= 1: the self-join does O(df^2) work per shingle, so one
    stopword-like shingle with df = 10^6 alone produces 10^12 pairs.
    Setting ``max_df`` drops shingles whose document frequency exceeds it
    from the shingle UNIVERSE (sizes and intersections alike), capping
    per-key join fan-out at max_df^2; the hot set itself is tiny by
    construction, so it is removed with a broadcast anti-join — no extra
    shuffle of the big table. Semantics: Jaccard over the df-filtered
    shingle space. That is an APPROXIMATION, not a one-sided bound —
    removing a shingle SHARED by a pair lowers their Jaccard
    ((i-1)/(u-1) <= i/u), removing an unshared one raises it — with
    per-pair perturbation <= m/(u-m) for m dropped shingles against
    union size u, negligible when max_df is set well above the real
    near-dup cluster size so only corpus-wide boilerplate crosses it.
    The default (None) changes nothing: the registered queries and the
    DuckDB oracle run the unfiltered exact metric. Guard behavior is
    pinned by tests/test_operators.py::test_exact_jaccard_max_df_guard.
    """
    sh = tracked_persist(hashed_shingles(docs))
    if max_df is not None:
        hot = (
            sh.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("h")
        )
        sh = tracked_persist(sh.join(F.broadcast(hot), "h", "left_anti"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    return _verified_jaccard(
        _self_intersections(sh), sizes, "doc_a", "doc_b", threshold
    )


def _self_intersections(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter) for doc_a < doc_b: shared-shingle counts of
    every pair, by the hashed-shingle self-join (exact baselines only —
    O(df^2) work per shingle)."""
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def _with_sizes(inter: DataFrame, sizes: DataFrame, a: str, b: str) -> DataFrame:
    """``inter`` (a, b, inter) plus each side's shingle count ``sz_a`` /
    ``sz_b`` from ``sizes`` (doc_id, sz)."""
    return inter.join(
        sizes.select(F.col("doc_id").alias(a), F.col("sz").alias("sz_a")), a
    ).join(sizes.select(F.col("doc_id").alias(b), F.col("sz").alias("sz_b")), b)


def _verified_jaccard(
    inter: DataFrame, sizes: DataFrame, a: str, b: str, threshold: float
) -> DataFrame:
    """(a, b, jaccard) for the pairs of ``inter`` (a, b, inter — shared
    shingle counts) whose exact Jaccard reaches ``threshold``. The one
    verification tail of the exact baseline, the MinHash candidates and
    both incremental queries.

    Raw double: identical integer operands + one division => bit-identical
    across engines; ROUND would reintroduce repr-tie divergence."""
    jac = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    ).cast("double")
    return (
        _with_sizes(inter, sizes, a, b)
        .select(a, b, jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def hashed_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, h): each distinct shingle hashed ONCE to 64 bits. Everything
    downstream (signatures, sizes, candidate verification) works on the
    8-byte hash instead of the ~20-byte shingle string — smaller persist,
    narrower shuffle keys, and the k minhash "permutations" re-hash the
    integer instead of re-hashing the string k times (4.5x faster
    signature stage measured at sf0.1). Collisions (~2^-64 per pair)
    can only merge two shingles corpus-wide — far below the sketch's own
    error.

    Callers persist the result for the lifetime of their returned plan and
    cannot unpersist it inside the lazy-builder contract; in a long-lived
    session the caches are evicted LRU (MEMORY_AND_DISK), and a production
    pipeline would checkpoint this table once per corpus snapshot instead.
    """
    return exploded_shingles(docs).select("doc_id", F.xxhash64("sh").alias("h"))


def _sig_sizes_from_hashed(hashed: DataFrame) -> DataFrame:
    """(doc_id, sig, sz): the minhash signature — sig[i] = min over the
    doc's shingles of xxhash64(seed_i, h), one aggregation with no
    per-permutation passes — AND the per-doc shingle count, from ONE
    aggregation pass over the hashed-shingle table.

    The signature aggregate already groups by doc_id and touches every
    (doc_id, h) row; folding ``count(1)`` into the same HashAggregate
    makes the separate sizes groupBy — a second full pass + exchange over
    the shingle table — free (sz is exact because hashed_shingles is
    distinct per doc). A caller that reads only ``sig`` pays nothing for
    ``sz``: column pruning drops the unused count."""
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("h"))).alias(f"_h{i}")
        for i in range(MINHASH_K)
    ]
    agg = hashed.groupBy("doc_id").agg(*mins, F.count(F.lit(1)).alias("sz"))
    return agg.select(
        "doc_id",
        F.array(*[F.col(f"_h{i}") for i in range(MINHASH_K)]).alias("sig"),
        "sz",
    )


def banded_signatures(signatures: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash): the LSH bucket index of a signature
    table — shared by the self-join (lsh_candidate_pairs) and the
    increment-vs-corpus lookup (dedup_incremental_lsh)."""
    rows_per_band = MINHASH_K // LSH_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.xxhash64(
                    F.concat_ws(
                        ",", *[F.element_at("sig", i * rows_per_band + j + 1).cast("string")
                               for j in range(rows_per_band)]
                    )
                ).alias("band_hash"),
            )
            for i in range(LSH_BANDS)
        ]
    )
    return signatures.select(
        "doc_id", F.explode(band_structs).alias("b")
    ).select("doc_id", "b.band_idx", "b.band_hash")


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Band the signature and bucket-join: docs sharing any band's hash are
    candidates. Shuffle key is (band_idx, band_hash) — high cardinality."""
    banded = banded_signatures(signatures)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_dedup_pairs(docs: DataFrame, threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard — the scale path.

    The hashed-shingle table feeds three consumers (signatures, sizes,
    candidate verification), so it is persisted once instead of re-derived
    from the text (2.2x measured at sf0.1) — and it holds 8-byte hashes,
    not shingle strings, so the cache and the verification join stay
    narrow. It stays cached until LRU eviction or session end — at
    100 TB, checkpoint it to storage between stages instead of relying on
    executor memory.
    """
    sh = tracked_persist(hashed_shingles(docs))
    # One aggregation pass yields signatures AND sizes; persisting it means
    # the band self-join's two sides and both size lookups read a tiny
    # (doc_id, sig, sz) cache instead of re-running the 32-hash min
    # aggregate (unpersisted, the plan computed that aggregate twice and
    # the sizes aggregate twice — four passes over the shingle table).
    sig_sz = tracked_persist(_sig_sizes_from_hashed(sh))
    cand = lsh_candidate_pairs(sig_sz)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("h").alias("h_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("h").alias("h_b"))
    inter = (
        cand.join(sa, "doc_a")
        .join(sb.withColumnRenamed("h_b", "h_a"), ["doc_b", "h_a"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _verified_jaccard(
        inter, sig_sz.select("doc_id", "sz"), "doc_a", "doc_b", threshold
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash: for each bit, sum +/-1 over token hashes; sign pools
    to the signature bit.

    Shape: explode tokens -> one hash-aggregate with 64 conditional-sum
    columns (constant shift amounts keep everything in codegen), then OR
    the sign bits together. One shuffle keyed on doc_id.
    """
    toks = tokens("text")
    tok_hash = (
        docs.filter(F.size(toks) > 0)
        .select("doc_id", F.explode(toks).alias("tok"))
        .select("doc_id", F.xxhash64("tok").alias("h"))
    )
    bit_sums = tok_hash.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_b{b}")
            for b in range(64)
        ]
    )
    sig = F.lit(0).cast("bigint")
    for b in range(64):
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"_b{b}") > 0, F.shiftleft(F.lit(1).cast("bigint"), b)
            ).otherwise(F.lit(0).cast("bigint"))
        )
    return bit_sums.select("doc_id", sig.alias("simhash"))


def simhash_dedup_pairs(docs: DataFrame) -> DataFrame:
    """Candidate pairs share one of 4 16-bit bands (pigeonhole for
    Hamming <= 3), verified by bit_count(a XOR b)."""
    sigs = simhash_signatures(docs)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright("simhash", i * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("band_val"),
            )
            for i in range(4)
        ]
    )
    banded = sigs.select("doc_id", "simhash", F.explode(bands).alias("b")).select(
        "doc_id", "simhash", "b.band_idx", "b.band_val"
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= SIMHASH_MAX_HAMMING
    )


def shingle_ctes(source: str = "documents") -> str:
    """CTE items over ``source``: ``toks`` (doc_id, lowercased whitespace
    tokens), ``g`` (doc_id, 0-based pos, word-NGRAM shingle at pos) and
    ``sh`` (doc_id, distinct shingle) — the DuckDB mirror of
    :func:`exploded_shingles`, shared by every shingle oracle."""
    return f"""toks AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM {source}),
    g AS (
        SELECT doc_id, i - 1 AS pos,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
        FROM toks, UNNEST(range(1, len(toks) - 1)) AS r(i)
        WHERE len(toks) >= {NGRAM}
    ),
    sh AS (SELECT DISTINCT doc_id, sh FROM g)"""


def _pair_overlap_ctes(source: str = "documents") -> str:
    """:func:`shingle_ctes` plus ``sizes`` (doc_id, sz) and ``inter``
    (doc_a < doc_b, shared-shingle count) — the DuckDB mirror of
    :func:`_self_intersections` and its size table."""
    return f"""{shingle_ctes(source)},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )"""


def cc_labels_sql(pairs: str) -> str:
    """Parenthesized (doc_id, cluster_id) subquery: the recursive-CTE
    mirror of :func:`connected_components` over the (doc_a, doc_b) rows
    of the ``pairs`` query — transitive closure of the symmetric pair
    graph, then the min reachable id per vertex. Only vertices with at
    least one pair appear, as in the engine's labels."""
    return f"""(
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(s, d) AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    )
    SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id
    FROM reach
    GROUP BY s)"""


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    WITH fp AS (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
        FROM documents
    )
    SELECT fingerprint,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM fp
    GROUP BY fingerprint
    HAVING COUNT(*) > 1
    """,
    doc="Exact dedup via hash-groupBy on a normalized md5 fingerprint: "
    "duplicate groups with the kept (min) doc_id. The shuffle carries "
    "16-byte keys, never text.",
    tags=("llm", "dedup"),
)
def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(normalized_text()).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def _ngram_jaccard_sql(threshold: float, source: str = "documents") -> str:
    """``source`` lets pipeline oracles run the identical pair SQL over a
    pre-filtered CTE instead of the base table (corpus_pipeline_full)."""
    return f"""
    WITH {_pair_overlap_ctes(source)}
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE)
                 / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE)
                / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= {threshold}
    """


INCREMENT_MOD = 20  # doc_id % 20 == 0 plays the freshly-arrived batch


@register(
    "dedup_incremental",
    f"""
    WITH {shingle_ctes()},
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT n.doc_id AS new_doc_id, c.doc_id AS dup_of, COUNT(*) AS inter
        FROM sh n JOIN sh c ON n.sh = c.sh
        WHERE n.doc_id % {INCREMENT_MOD} = 0
          AND c.doc_id % {INCREMENT_MOD} != 0
        GROUP BY n.doc_id, c.doc_id
    )
    SELECT new_doc_id, dup_of,
           CAST(inter AS DOUBLE)
                 / CAST(sn.sz + sc.sz - inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sn ON sn.doc_id = new_doc_id
    JOIN sizes sc ON sc.doc_id = dup_of
    WHERE CAST(inter AS DOUBLE)
                / CAST(sn.sz + sc.sz - inter AS DOUBLE)
          >= {JACCARD_THRESHOLD}
    """,
    doc="Incremental dedup — the production shape of a corpus that GROWS: "
    "a freshly-arrived batch (doc_id % 20 == 0 stands in for it) is "
    "near-dup-checked against the standing corpus WITHOUT recomputing "
    "any corpus x corpus pair. The hashed-shingle join is "
    "increment x corpus, so work scales with the batch, not the corpus "
    "size squared; at 100 TB the corpus side is the already-persisted "
    "shingle index (hashed_shingles' docstring), and only the batch's "
    "shingles are computed fresh. Emits (new_doc_id, dup_of, jaccard) — "
    "the reject/route decision an ingestion pipeline consumes. Banding "
    "the standing index (lsh_candidate_pairs) drops the verify fan-in "
    "further when batches are large; the exact join IS the scale path "
    "for small increments and keeps the query DuckDB-verifiable.",
    tags=("llm", "dedup", "extension"),
)
def _dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Three consumers (batch side, corpus side, sizes) — persist the
    # 8-byte hashed-shingle table once, same as minhash_dedup_pairs.
    sh = tracked_persist(hashed_shingles(docs))
    inc = F.col("doc_id") % INCREMENT_MOD == 0
    sh_new = sh.filter(inc).select(
        F.col("doc_id").alias("new_doc_id"), "h"
    )
    sh_corpus = sh.filter(~inc).select(F.col("doc_id").alias("dup_of"), "h")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh_new.join(sh_corpus, "h")
        .groupBy("new_doc_id", "dup_of")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _verified_jaccard(inter, sizes, "new_doc_id", "dup_of", JACCARD_THRESHOLD)


@register(
    "dedup_incremental_lsh",
    None,  # xxhash64 sketches are engine-specific; recall vs the exact
    # incremental query asserted in tests/test_operators.py
    doc="Incremental dedup at corpus scale: the freshly-arrived batch's "
    "MinHash signatures probe the standing corpus's LSH band index "
    "(a lookup join on (band_idx, band_hash) — candidates only where a "
    "band collides, never increment x corpus), then candidates are "
    "exact-Jaccard-verified on the hashed-shingle table. This is what "
    "dedup_incremental's docstring promises for large batches: work is "
    "O(batch x bands + collisions), the standing index is the "
    "already-materialized banded-signature table, and verified pairs "
    "are exact (precision 1 by construction) — only recall is "
    "approximate, asserted vs dedup_incremental in tests. Rows-only.",
    tags=("llm", "dedup", "extension", "approx"),
)
def _dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = tracked_persist(hashed_shingles(docs))
    inc = F.col("doc_id") % INCREMENT_MOD == 0
    banded = banded_signatures(_sig_sizes_from_hashed(sh))
    b_new = banded.filter(inc).select(
        F.col("doc_id").alias("new_doc_id"), "band_idx", "band_hash"
    )
    b_corpus = banded.filter(~inc).select(
        F.col("doc_id").alias("dup_of"), "band_idx", "band_hash"
    )
    cand = (
        b_new.join(b_corpus, ["band_idx", "band_hash"])
        .select("new_doc_id", "dup_of")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cand.join(
            sh.select(F.col("doc_id").alias("new_doc_id"), "h"), "new_doc_id"
        )
        .join(sh.select(F.col("doc_id").alias("dup_of"), "h"), ["dup_of", "h"])
        .groupBy("new_doc_id", "dup_of")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _verified_jaccard(inter, sizes, "new_doc_id", "dup_of", JACCARD_THRESHOLD)


@register(
    "dedup_ngram_jaccard",
    _ngram_jaccard_sql(JACCARD_THRESHOLD),
    doc="Exact word-3-gram Jaccard near-dup pairs (threshold "
    f"{JACCARD_THRESHOLD}) — the correctness baseline the MinHash sketch "
    "is verified against.",
    tags=("llm", "dedup"),
)
def _ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_jaccard_pairs(docs, JACCARD_THRESHOLD)


@register(
    "dedup_minhash_lsh",
    None,  # xxhash64 sketches are engine-specific; recall asserted in tests
    doc="MinHash(k=32) + LSH(8 bands x 4 rows) candidates, exact-Jaccard "
    "verified — the O(n) 100 TB dedup path. Rows-only check; "
    "tests/test_operators.py asserts recall vs dedup_ngram_jaccard.",
    tags=("llm", "dedup", "approx"),
)
def _minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(docs)


@register(
    "dedup_simhash",
    None,  # engine-specific hash; rows-only
    doc="SimHash-64 near-dup pairs (Hamming <= 3) via 4x16-bit band "
    "pigeonhole + bit_count verify. Rows-only check.",
    tags=("llm", "dedup", "approx"),
)
def _simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_dedup_pairs(docs)


@register(
    "dedup_cluster_cc",
    f"""
    SELECT doc_id, cluster_id, cluster_id = doc_id AS is_keeper
    FROM {cc_labels_sql(_ngram_jaccard_sql(JACCARD_THRESHOLD))} cc
    """,
    doc="Near-dup cluster resolution: connected components over the exact "
    "n-gram-Jaccard pair graph via alternating large-star/small-star "
    "rounds (the O(log^2 n) 100 TB path; recursive-CTE oracle). Emits "
    "(doc_id, cluster_id, is_keeper) — the step that turns pairwise "
    "dedup output into a keep/drop decision per document.",
    tags=("llm", "dedup"),
)
def _dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = exact_jaccard_pairs(docs, JACCARD_THRESHOLD)
    labels = connected_components(pairs)
    return labels.select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        (F.col("cluster_id") == F.col("id")).alias("is_keeper"),
    )


@register(
    "dedup_survivors",
    f"""
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    LEFT JOIN {cc_labels_sql(_ngram_jaccard_sql(JACCARD_THRESHOLD))} cc
      ON d.doc_id = cc.doc_id
    WHERE cc.doc_id IS NULL OR cc.cluster_id = d.doc_id
    """,
    doc="End-to-end near-dedup materialization: drop every non-canonical "
    "member of each near-dup cluster (anti-join against CC labels), keep "
    "untouched docs. This is the corpus a training run would actually "
    "read. Oracle-checked baseline; the scale twin is "
    "dedup_survivors_lsh, whose sketch+two-star plan is the shape that "
    "survives 100 TB (this one's shingle self-join is O(sum of "
    "per-shingle pairs^2) and exists for DuckDB verifiability).",
    tags=("llm", "dedup"),
)
def _dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = exact_jaccard_pairs(docs, JACCARD_THRESHOLD)
    labels = connected_components(pairs)
    losers = labels.filter(F.col("cluster_id") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


@register(
    "dedup_embedding_cosine",
    f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({cosine_sql('a.e', 'b.e')}, 4) AS cos
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE ROUND({cosine_sql('a.e', 'b.e')}, 4) >= 0.99
    """,
    doc="Embedding near-dup: pairs with cosine >= 0.99. Brute-force O(n^2) "
    "baseline (correctness); the LSH-bucketed variant in similarity.py is "
    "the scale path.",
    tags=("llm", "dedup", "vector"),
)
def _embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _all_pair_cosines(load_embeddings(spark, sf_dir))
    return pairs.filter(F.col("cos") >= 0.99)


def _all_pair_cosines(withn: DataFrame) -> DataFrame:
    """(vec_a, vec_b, cos) for every pair vec_a < vec_b of an (vec_id, e,
    nrm) table — the quadratic kernel of the exact near-dup baseline and
    the exact histogram, for test SF only. Per-row norms: dot/(n_a*n_b)
    uses the same operands as the oracle's per-pair sqrt products, so
    values stay bit-identical at 3x less work."""
    a = withn.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("e_a"), F.col("nrm").alias("n_a")
    )
    b = withn.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("e_b"), F.col("nrm").alias("n_b")
    )
    return a.join(b, F.col("vec_a") < F.col("vec_b")).select(
        "vec_a", "vec_b", rounded_cosine("e_a", "n_a", "e_b", "n_b").alias("cos")
    )


@register(
    "dup_span_signal",
    f"""
    WITH {shingle_ctes()},
    freq AS (SELECT sh, COUNT(*) AS n_docs FROM sh GROUP BY sh)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_shingles,
           ROUND(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS dup_span_frac
    FROM sh s JOIN freq f ON s.sh = f.sh
    GROUP BY s.doc_id
    """,
    doc="Substring-level dedup signal (Lee et al., 'Deduplicating Training "
    "Data Makes Language Models Better'): per document, the fraction of "
    "its word 3-gram spans that also appear in at least one OTHER "
    "document. Shingles are hashed once to 8-byte keys before the "
    "frequency join (hashed_shingles), so the corpus-frequency shuffle "
    "carries integers, never shingle strings; per-doc shingle sets are "
    "distinct, so a span shared with one other doc counts once. High "
    "dup_span_frac flags boilerplate/templated docs that whole-doc "
    "near-dedup misses.",
    tags=("llm", "dedup", "text"),
)
def _dup_span_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hs = hashed_shingles(docs)
    freq = hs.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    dup = F.when(F.col("n_docs") >= 2, 1).otherwise(0)
    return (
        hs.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(dup).cast("bigint").alias("n_dup_shingles"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup_shingles",
            F.round(
                F.col("n_dup_shingles") / F.col("n_shingles").cast("double"), 4
            ).alias("dup_span_frac"),
        )
    )


@register(
    "dedup_span_removal",
    f"""
    WITH {shingle_ctes()},
    freq AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) >= 2),
    bad AS (
        SELECT DISTINCT g.doc_id, g.pos + u.o AS p
        FROM g JOIN freq USING (sh), UNNEST([0, 1, 2]) AS u(o)
    ),
    tok_idx AS (
        SELECT doc_id, i, toks[i] AS tok
        FROM toks, UNNEST(range(1, len(toks) + 1)) AS r(i)
    ),
    clean AS (
        SELECT t.doc_id,
               COALESCE(string_agg(CASE WHEN b.p IS NULL THEN tok END,
                                   ' ' ORDER BY t.i), '') AS clean_text,
               COUNT(CASE WHEN b.p IS NULL THEN 1 END) AS n_kept
        FROM tok_idx t
        LEFT JOIN bad b ON b.doc_id = t.doc_id AND b.p = t.i - 1
        GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           COALESCE(c.clean_text, '') AS clean_text,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           CAST(len(t.toks) - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed
    FROM documents d
    JOIN toks t USING (doc_id)
    LEFT JOIN clean c USING (doc_id)
    """,
    doc="Substring-level dedup ACTION completing dup_span_signal's flag "
    "(Lee et al.): rewrite each document with every token removed that "
    "sits inside a word 3-gram appearing in at least one OTHER document. "
    "Scale shape: the only shuffles carry 8-byte gram hashes (corpus "
    "frequency) and (doc_id, position) integers (the flag set, "
    "re-collected to a small per-doc position array); the rewrite itself "
    "is scan-local — token arrays are filtered by index in place, so "
    "text NEVER crosses an exchange. Output is normalized-token text "
    "(lowercased, single-spaced), plus kept/removed counts.",
    tags=("llm", "dedup", "text"),
)
def _dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select("doc_id", tokens("text").alias("toks"))
    # Positional grams: word_shingles' fold WITHOUT the distinct —
    # position matters here.
    acc = _ngram_array(F.col("toks"), F.size("toks") - (NGRAM - 1))
    grams = (
        tokd.filter(F.size("toks") >= NGRAM)
        .select("doc_id", F.posexplode(acc).alias("pos", "sh"))
        .select("doc_id", "pos", F.xxhash64("sh").alias("h"))
    )
    # Cross-doc frequency over per-doc-DISTINCT shingles — same dup
    # definition as dup_span_signal (within-doc repeats alone don't flag).
    dup_keys = (
        hashed_shingles(docs)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("h")
    )
    bad_positions = (
        grams.join(dup_keys, "h")
        .select(
            "doc_id",
            F.explode(
                F.array(*[F.col("pos") + F.lit(o) for o in range(NGRAM)])
            ).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("bad"))
    )
    out = tokd.join(bad_positions, "doc_id", "left")
    bad = F.coalesce(F.col("bad"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("toks"), lambda t, i: ~F.array_contains(bad, i)
    )
    return out.select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("bigint").alias("n_removed"),
    )


CONTAINMENT_THRESHOLD = 0.85


@register(
    "dedup_containment",
    f"""
    WITH {_pair_overlap_ctes()},
    both_dirs AS (
        SELECT doc_a AS contained_id, doc_b AS container_id,
               CAST(inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment
        FROM inter JOIN sizes sa ON sa.doc_id = doc_a
        UNION ALL
        SELECT doc_b, doc_a,
               CAST(inter AS DOUBLE) / CAST(sb.sz AS DOUBLE)
        FROM inter JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT contained_id, container_id, containment
    FROM both_dirs WHERE containment >= {CONTAINMENT_THRESHOLD}
    """,
    doc="Asymmetric containment dedup: shingle-containment |A∩B| / |A| per "
    "direction — catches a short document embedded inside a longer one "
    "(quote expansion, boilerplate wrapping), which symmetric Jaccard "
    "under-scores because the union is dominated by the longer doc. Same "
    "persisted 8-byte hashed-shingle self-join as the Jaccard baseline; "
    "both directions derive from ONE intersection count.",
    tags=("llm", "dedup"),
)
def _dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = tracked_persist(hashed_shingles(docs))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    paired = _with_sizes(_self_intersections(sh), sizes, "doc_a", "doc_b")
    fwd = paired.select(
        F.col("doc_a").alias("contained_id"),
        F.col("doc_b").alias("container_id"),
        (F.col("inter").cast("double") / F.col("sz_a").cast("double")).alias(
            "containment"
        ),
    )
    rev = paired.select(
        F.col("doc_b").alias("contained_id"),
        F.col("doc_a").alias("container_id"),
        (F.col("inter").cast("double") / F.col("sz_b").cast("double")).alias(
            "containment"
        ),
    )
    return fwd.unionAll(rev).filter(F.col("containment") >= CONTAINMENT_THRESHOLD)


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components of the (doc_a, doc_b) edge table by
    alternating large-star / small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond").

    Min-label propagation needs O(component diameter) rounds; the star
    operations contract whole subtrees onto component minima, converging
    in O(log^2 n) rounds on ANY graph shape — the difference between 3
    and 300 shuffles on a 10^9-vertex chain-heavy dup graph. Per round:
    one groupBy per star to find each vertex's neighborhood minimum, one
    join to re-point edges, ``localCheckpoint`` to truncate lineage.
    Returns (id, cluster_id) with cluster_id = the component's minimum
    vertex id (tested against a union-find on known and random graphs).
    """
    # Materialize the INPUT plan exactly once: both the vertex set and the
    # working edge set derive from this checkpoint, so an expensive
    # upstream (the whole MinHash pipeline in dedup_survivors_lsh) is not
    # computed twice.
    # All checkpoints here are LAZY (eager=False), which under AQE defers
    # only the final stage: localCheckpoint asks for its input's RDD, and
    # AQE runs every shuffle stage of the input to finalize that plan
    # before it returns. So each call blocks on its input's shuffles, and
    # the is_star_forest probe is not the round's only driver-blocking
    # action. What lazy saves is the separate count job an eager
    # checkpoint adds; the probe's 1-row collect computes and caches the
    # checkpointed partitions, so lineage is still truncated before the
    # next round builds on them.
    raw = edges.select(
        F.col("doc_a").alias("s"), F.col("doc_b").alias("d")
    ).localCheckpoint(eager=False)
    # Vertices come from the RAW pair set: a vertex whose only edge is a
    # self-loop must still appear in the output (as its own singleton
    # cluster), as the transitive-closure oracle reports it. Lazy — only
    # the final label join reads it, straight off the cached checkpoint.
    vertices = (
        raw.select(F.col("s").alias("id"))
        .union(raw.select(F.col("d").alias("id")))
        .distinct()
    )
    # Canonical (greater, smaller) orientation: near-dup graphs are mostly
    # 2-vertex components, and oriented pairs are ALREADY the star-forest
    # fixpoint — the is_star_forest probe below detects that structurally
    # and exits with ZERO rounds instead of three.
    e = (
        raw.filter(F.col("s") != F.col("d"))
        .select(
            F.greatest("s", "d").alias("s"), F.least("s", "d").alias("d")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def neighborhood_min(pairs: DataFrame) -> DataFrame:
        """m(u) = min(N(u) ∪ {u}) over the symmetrized pair set."""
        sym = pairs.union(pairs.select(F.col("d").alias("s"), F.col("s").alias("d")))
        return sym.groupBy("s").agg(
            F.least(F.min("d"), F.first("s")).alias("m")
        )

    def is_star_forest(pairs: DataFrame) -> bool:
        """Direct fixpoint test, one probe job per round (no confirmation
        round): both star operations preserve the (greater -> smaller)
        edge orientation, under which a fixpoint is exactly a star forest
        — no vertex is both a source and a destination, and every source
        has a single destination (= its star's root, which the orientation
        forces to be the component minimum). Probing the structure instead
        of comparing fingerprints across rounds means an already-star-
        shaped input (the common mostly-2-vertex near-dup graph) exits
        with ZERO rounds, and convergence never needs a confirm round.
        """
        row = (
            pairs.select(
                F.col("s").alias("v"),
                F.lit(1).alias("as_src"),
                F.lit(0).alias("as_dst"),
            )
            .union(
                pairs.select(
                    F.col("d").alias("v"),
                    F.lit(0).alias("as_src"),
                    F.lit(1).alias("as_dst"),
                )
            )
            .groupBy("v")
            .agg(
                F.max("as_src").alias("src"),
                F.max("as_dst").alias("dst"),
                F.sum("as_src").alias("out_deg"),
            )
            .agg(
                F.count(
                    F.when((F.col("src") == 1) & (F.col("dst") == 1), 1)
                ).alias("both_roles"),
                F.max(F.when(F.col("src") == 1, F.col("out_deg"))).alias(
                    "max_out"
                ),
            )
            .collect()[0]
        )
        return row["both_roles"] == 0 and (
            row["max_out"] is None or row["max_out"] <= 1
        )

    converged = is_star_forest(e)
    rounds = 0
    while not converged:
        if rounds >= CC_MAX_ROUNDS:
            raise RuntimeError(
                f"connected_components did not converge within "
                f"{CC_MAX_ROUNDS} rounds"
            )
        # Large-star: every neighbor v > u re-points to u's neighborhood min.
        m = neighborhood_min(e)
        sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        large = (
            sym.filter(F.col("d") > F.col("s"))
            .join(m, "s")
            .select(F.col("d").alias("s"), F.col("m").alias("d"))
            .filter(F.col("s") != F.col("d"))
        )
        e2 = large.distinct().localCheckpoint(eager=False)

        # Small-star: neighbors v <= u (and u itself) re-point to the min.
        m2 = neighborhood_min(e2)
        sym2 = e2.union(e2.select(F.col("d").alias("s"), F.col("s").alias("d")))
        small = (
            # Re-point every SMALL neighbor (d < s) of s to s's min...
            sym2.filter(F.col("d") < F.col("s"))
            .join(m2, "s")
            .select(F.col("d").alias("s"), F.col("m").alias("d"))
            # ...and s itself to its min.
            .union(
                m2.filter(F.col("s") != F.col("m")).select(
                    "s", F.col("m").alias("d")
                )
            )
            .filter(F.col("s") != F.col("d"))
            .distinct()
        )
        e = small.localCheckpoint(eager=False)
        converged = is_star_forest(e)
        rounds += 1

    # Fixpoint is a star forest: every non-root points at its component min.
    labels = e.groupBy("s").agg(F.min("d").alias("cluster_id")).select(
        F.col("s").alias("id"), "cluster_id"
    )
    return (
        vertices.join(labels, vertices.id == labels.id, "left")
        .select(
            vertices.id.alias("id"),
            F.coalesce("cluster_id", vertices.id).alias("cluster_id"),
        )
    )


@register(
    "dedup_survivors_lsh",
    None,  # xxhash64 sketches are engine-specific; agreement with the exact
    # survivors is asserted in tests/test_operators.py instead
    doc="Scale-path survivor materialization: MinHash+LSH near-dup pairs -> "
    "large-star/small-star connected components -> anti-join. The 100 TB "
    "twin of dedup_survivors (which rides the exact shingle self-join "
    "so DuckDB can oracle it): every stage here is "
    "O(docs*k + candidates) with O(log^2 n) CC rounds — no shingle "
    "self-join. Because the verified LSH pair "
    "set is a subset of the exact pair set, its components refine the "
    "exact components and every exact survivor remains a survivor; "
    "tests assert that superset property plus >=95% agreement.",
    tags=("llm", "dedup", "approx"),
)
def _dedup_survivors_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    losers = lsh_survivor_losers(docs)
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source"
    )


def collapse_exact_duplicates(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(canonical docs, exact-loser ids): group by the md5 fingerprint of
    normalized text (the dedup_exact definition), keep the min doc_id per
    group. The shuffle carries 16-byte fingerprints, never text."""
    fp = docs.select("doc_id", F.md5(normalized_text()).alias("fp"))
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("canon_id"))
    losers = (
        fp.join(canon, "fp")
        .filter(F.col("doc_id") != F.col("canon_id"))
        .select("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti"), losers


def lsh_survivor_losers(
    docs: DataFrame, collapse_exact: bool = False
) -> DataFrame:
    """doc_ids dropped by the LSH near-dup survivor pass — the shared core
    of dedup_survivors_lsh.

    ``collapse_exact=True`` prepends a fingerprint collapse: exact
    duplicates (byte-identical after normalization) are reduced to their
    min-id canonical BEFORE shingling/MinHash. On web-scale corpora exact
    copies are the dominant duplicate class (often ~30% of documents) and
    every copy carries an IDENTICAL signature, so they land in the same
    LSH band buckets and make the bucket self-join quadratic in copy
    count — the hot-key skew the pipeline would actually hit at 100 TB.
    Collapsing first removes that skew and shrinks every downstream
    stage, and the SURVIVOR SET IS PROVABLY UNCHANGED: a full cluster's
    min id equals the min over its exact-groups' min ids, so the merged
    losers (exact losers + near-dup losers over canonicals) equal the
    uncollapsed losers (property-tested on planted exact families in
    tests/test_operators.py). Default False only because the synthetic
    documents table has zero exact duplicates — the registered query should
    not pay a fingerprint pass its data can't use; flip it on for real
    corpora.
    """
    if collapse_exact:
        canon_docs, exact_losers = collapse_exact_duplicates(docs)
    else:
        canon_docs, exact_losers = docs, None
    pairs = minhash_dedup_pairs(canon_docs)
    labels = connected_components(pairs)
    near_losers = labels.filter(F.col("cluster_id") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    if exact_losers is None:
        return near_losers
    return near_losers.unionByName(exact_losers)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup — Abbas et al. 2023, arXiv:2303.09540)
# ---------------------------------------------------------------------------

SEM_CELLS = 16  # embedding-space clusters (k-means|| offline at 100 TB)
SEM_THRESHOLD = 0.95  # within-cluster cosine above which docs are duplicates


def semantic_dedup_flags(emb: DataFrame, n_cells: int = SEM_CELLS) -> DataFrame:
    """SemDeDup over an (vec_id, e, nrm) embedding table: cluster with a
    broadcast coarse quantizer, then WITHIN each cluster rank vectors by
    distance from the centroid (farthest first — the paper keeps the
    "edge" examples) and drop any vector whose cosine to an
    earlier-ranked cluster-mate reaches ``SEM_THRESHOLD``. That
    dominated-by-earlier rule is exactly the public SemDeDup
    implementation's sorted pairwise-similarity sweep; for a duplicate
    clique it keeps precisely the min-ranked member.

    Scale shape: the only O(corpus) joins are against BROADCAST tables
    (centroids, and the 1-row stride aggregate); the pairwise stage
    shuffles each vector once on cell_id and compares within cells only
    — sum(|cell|^2), not |corpus|^2, and cluster count grows with the
    corpus so |cell| stays bounded. Cross-cluster near-dups are missed
    by design (the paper's recall/cost trade); tests pin both the drop
    semantics on planted duplicate cliques and the within-cell
    comparison-volume ceiling.

    Every score is ROUNDed to 4 dp before any comparison, so ranking and
    threshold decisions are bit-stable across engines — the whole chain
    is deterministic and therefore ORACLE-CHECKED, unlike the hash-sketch
    dedup family.

    Returns (vec_id, cell_id, cos_centroid, kept) for every corpus row.
    """
    # MAP-ONLY assignment: similarity.nearest_cell — the one definition
    # of the packed-broadcast rounded-cosine kernel (zero assignment
    # shuffle; the window form exchanged |cells| rows per vector).
    cents = stride_centroids(emb, n_cells)
    assigned = nearest_cell(
        emb, cents, carry=("e", "nrm"), cell_alias="cell_id", cos_alias="cos_c"
    )
    w_keep = Window.partitionBy("cell_id").orderBy(F.col("cos_c").asc(), "vec_id")
    # Persisted: the ranked assignment feeds BOTH self-join sides and the
    # final kept-flag join, and without the persist each consumer re-ran
    # centroid scoring + the ranking window — the unpersisted plan held
    # four Window evaluations and 18 scans of the embedding table for one
    # logical assignment pass. This is the
    # cluster-assignment table SemDeDup materializes between its two
    # phases; cache budget is the embedding table itself.
    ranked = tracked_persist(
        assigned.withColumn("kr", F.row_number().over(w_keep))
    )
    a = ranked.select(
        "cell_id",
        F.col("kr").alias("kr_a"),
        F.col("e").alias("e_a"),
        F.col("nrm").alias("n_a"),
    )
    b = ranked.select(
        "cell_id",
        F.col("kr").alias("kr_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("e_b"),
        F.col("nrm").alias("n_b"),
    )
    dropped = (
        a.join(b, "cell_id")
        .filter(F.col("kr_a") < F.col("kr_b"))
        .filter(rounded_cosine("e_a", "n_a", "e_b", "n_b") >= SEM_THRESHOLD)
        .select(F.col("vec_b").alias("_d"))
        .distinct()
    )
    return ranked.join(
        dropped, ranked["vec_id"] == dropped["_d"], "left"
    ).select(
        "vec_id",
        "cell_id",
        F.col("cos_c").alias("cos_centroid"),
        F.col("_d").isNull().cast("int").alias("kept"),
    )


@register(
    "dedup_semantic",
    f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    s AS (
        SELECT greatest(CAST(floor(count(*) / {SEM_CELLS}) AS BIGINT), 1)
                   AS stride
        FROM v
    ),
    cent AS (
        SELECT CAST(vec_id / stride AS INT) AS cell_id, e AS c_e
        FROM v, s
        WHERE vec_id % stride = 0 AND vec_id / stride < {SEM_CELLS}
    ),
    scored AS (
        SELECT v.vec_id, cent.cell_id,
               ROUND({cosine_sql('v.e', 'cent.c_e')}, 4) AS cos_c
        FROM v CROSS JOIN cent
    ),
    assigned AS (
        SELECT vec_id, cell_id, cos_c FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY cos_c DESC, cell_id) AS r
            FROM scored) WHERE r = 1
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cell_id
                                     ORDER BY cos_c ASC, vec_id) AS kr
        FROM assigned
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM ranked a
        JOIN ranked b ON a.cell_id = b.cell_id AND a.kr < b.kr
        JOIN v va ON va.vec_id = a.vec_id
        JOIN v vb ON vb.vec_id = b.vec_id
        WHERE ROUND({cosine_sql('va.e', 'vb.e')}, 4) >= {SEM_THRESHOLD}
    )
    SELECT r.vec_id, r.cell_id, r.cos_c AS cos_centroid,
           CAST(d.vec_id IS NULL AS INT) AS kept
    FROM ranked r LEFT JOIN dropped d ON r.vec_id = d.vec_id
    """,
    doc="Semantic dedup (SemDeDup, Abbas et al.): cluster embeddings with "
    "the deterministic stride quantizer, rank within clusters by distance "
    "from centroid (farthest kept first), drop vectors with cosine >= "
    f"{SEM_THRESHOLD} to an earlier-ranked cluster-mate. Comparison "
    "volume is sum(|cell|^2) not |corpus|^2 — the scale twin of "
    "dedup_embedding_cosine's brute-force baseline. Fully deterministic "
    "(rounded scores, id tiebreaks), so oracle-checked end to end; drop "
    "semantics on planted duplicate cliques asserted in "
    "tests/test_operators.py.",
    tags=("llm", "dedup", "vector"),
)
def _dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_dedup_flags(load_embeddings(spark, sf_dir))


def paragraph_dedup(docs: DataFrame) -> DataFrame:
    """Corpus-wide chunk-level dedup with document reassembly (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better" — their
    ExactSubstr operates on suffixes; this is the chunk-granular form
    production corpora actually ship): split every document into
    ``". "``-delimited chunks, keep each distinct chunk ONLY at its first
    occurrence (lowest (doc_id, position)), and reassemble documents from
    their surviving chunks in original order.

    Scale design: the survivor per chunk is ``min(struct(doc_id, pos))``
    — a partial-aggregatable groupBy, so a boilerplate chunk repeated
    10^9 times collapses map-side and never concentrates on one reducer
    (a row_number window over the chunk partition would sort the hot
    chunk's full copy set on a single task). Two shuffles total: one on
    chunk for the min, one on doc_id for reassembly.
    """
    chunks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"\. ")).alias("pos", "chunk"),
    )
    firsts = chunks.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    kept = firsts.select(
        F.col("first.doc_id").alias("doc_id"),
        F.col("first.pos").alias("pos"),
        "chunk",
    )
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            ". ",
        ).alias("dedup_text"),
        F.count(F.lit(1)).alias("kept_chunks"),
    )


@register(
    "paragraph_dedup",
    """
    WITH chunks AS (
        SELECT doc_id,
               unnest(string_split(text, '. ')) AS chunk,
               unnest(range(1, len(string_split(text, '. ')) + 1)) AS pos
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, chunk, pos,
               ROW_NUMBER() OVER (PARTITION BY chunk
                                  ORDER BY doc_id, pos) AS rn
        FROM chunks
    )
    SELECT doc_id,
           string_agg(chunk, '. ' ORDER BY pos) AS dedup_text,
           CAST(COUNT(*) AS BIGINT) AS kept_chunks
    FROM ranked
    WHERE rn = 1
    GROUP BY doc_id
    """,
    doc="Chunk-level (sentence-granular) exact dedup across the whole "
    "corpus with in-place document reassembly — the sub-document twin of "
    "exact_dedup: boilerplate sentences (headers, licenses, navigation) "
    "repeat across millions of pages and survive document-level dedup "
    "untouched. Each distinct chunk survives only at its first "
    "(doc_id, pos) occurrence; documents are rebuilt from surviving "
    "chunks in original order (docs losing every chunk drop out). The "
    "oracle recomputes the survivor set with the naive row_number form, "
    "so the hash match proves the map-side min(struct) aggregation "
    "(chosen because it partial-aggregates: a 10^9-copy hot chunk "
    "collapses before the shuffle) selects identical survivors.",
    tags=("llm", "dedup", "text"),
)
def _paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return paragraph_dedup(docs)


@register(
    "cosine_threshold_histogram",
    f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    scored AS (
        SELECT CAST(FLOOR(ROUND({cosine_sql('a.e', 'b.e')}, 4) * 20)
                    AS BIGINT) AS bucket
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE ROUND({cosine_sql('a.e', 'b.e')}, 4) >= 0.5
    )
    SELECT bucket,
           ROUND(CAST(bucket AS DOUBLE) / 20, 2) AS bucket_low,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM scored
    GROUP BY bucket
    """,
    doc="Dedup-threshold calibration: the pair-cosine histogram (0.05 "
    "buckets above 0.5) every near-dup rollout reads before choosing its "
    "threshold — pick 0.99 blind and you either miss paraphrase dups or "
    "delete topical neighbors; the histogram's knee makes the tradeoff "
    "visible. Exact over the brute-force pair kernel at test SF (the "
    "oracle recomputes it); the scale path is CODE, not prose: "
    "cosine_histogram_over_candidates computes the identical buckets "
    "over the SemDeDup within-cell candidate pairs (sum(|cell|^2) "
    "comparisons, one cell shuffle + one map-side-combined aggregate), "
    "per-bucket-subset + planted-clique recall pinned in "
    "tests/test_operators.py. Bucket edges come from identical IEEE "
    "round/floor on both engines, so the hash matches bit-for-bit.",
    tags=("llm", "dedup", "vector", "quality"),
    exact_float_cols=("bucket_low",),
)
def _cosine_threshold_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_histogram_exact(load_embeddings(spark, sf_dir))


def _bucketed_cosine_histogram(scored: DataFrame) -> DataFrame:
    """Shared tail of the exact and candidate-pair histograms: 0.05
    buckets from 0.5 up over a pre-rounded ``cos`` pair-score column.  One map-side-
    combined aggregate — at most ~10 bucket rows cross the shuffle."""
    return (
        scored.filter(F.col("cos") >= 0.5)
        .select(F.floor(F.col("cos") * 20).cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "bucket",
            F.round(F.col("bucket").cast("double") / 20, 2).alias("bucket_low"),
            "n_pairs",
        )
    )


def cosine_histogram_exact(withn: DataFrame) -> DataFrame:
    """All-pairs pair-cosine histogram over a (vec_id, e, nrm) table — the
    DuckDB-verifiable exact baseline; quadratic, for test SF only."""
    return _bucketed_cosine_histogram(_all_pair_cosines(withn))


def cosine_histogram_over_candidates(
    withn: DataFrame, n_cells: int = SEM_CELLS
) -> DataFrame:
    """Candidate-pair twin of ``cosine_histogram_exact``: the SAME
    rounded-cosine kernel and 0.05 buckets, computed only
    over the SemDeDup within-cell pairs — each vector shuffles once on
    its coarse cell, pairs form inside cells (sum(|cell|^2), never
    |corpus|^2), and the histogram adds one map-side-combined aggregate.
    This is the scale path the exact kernel's docstring promises, as
    code: at 100 TB the calibration histogram reads the candidate pairs
    the dedup pass scores anyway.  Near-dup mass (the knee region above
    the dedup threshold) is preserved because near-duplicates co-locate
    in a cell by construction; the sub-threshold tail under-counts
    cross-cell topical pairs — per-bucket subset + planted high-bucket
    recall pinned in tests/test_operators.py."""
    cents = stride_centroids(withn, n_cells)
    assigned = nearest_cell(
        withn, cents, carry=("e", "nrm"), cell_alias="cell_id", cos_alias="cos_c"
    )
    a = assigned.select(
        "cell_id",
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("e_a"),
        F.col("nrm").alias("n_a"),
    )
    b = assigned.select(
        "cell_id",
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("e_b"),
        F.col("nrm").alias("n_b"),
    )
    scored = (
        a.join(b, "cell_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(rounded_cosine("e_a", "n_a", "e_b", "n_b").alias("cos"))
    )
    return _bucketed_cosine_histogram(scored)


@register(
    "dup_cluster_size_histogram",
    f"""
    WITH sizes AS (
        SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM {cc_labels_sql(_ngram_jaccard_sql(JACCARD_THRESHOLD))} cc
        GROUP BY cluster_id
    )
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY cluster_size
    """,
    doc="Duplicate-cluster size distribution — the dedup-ops report read "
    "before pulling the trigger: a histogram dominated by pairs means "
    "near-dup noise (safe to collapse), a few giant clusters mean "
    "template/boilerplate families that deserve inspection, and the "
    "histogram's mass bounds exactly how many documents dedup will "
    "remove (sum (size-1) x n_clusters). Two tiny aggregates over the "
    "connected-components labels (cluster count is corpus-bounded); "
    "the recursive-CTE oracle recomputes the same clusters.",
    tags=("llm", "dedup", "quality"),
)
def _dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = exact_jaccard_pairs(docs, JACCARD_THRESHOLD)
    labels = connected_components(pairs)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
