"""Approximate-nearest-neighbor similarity search over embedding columns
(north-star extension).

* ``knn_bruteforce`` — exact top-k by cosine for a query set: broadcast the
  queries, one pass over the corpus, per-partition heaps via
  TakeOrdered-style window ranking. Correctness baseline and the right
  answer whenever |queries| is small.
* ``knn_lsh`` — random-hyperplane LSH: 32 deterministic hyperplanes give a
  32-bit bucket signature banded into 8 x 4 bits; queries multi-probe each
  band's four 1-bit flips and candidates must share >=2 probed bands, then
  exact cosine ranks within candidates. O(n) sketch + bucket-local search
  — the scale path. Recall vs brute force asserted in
  tests/test_operators.py (recall@5 = 0.86 at sf0.1 on the WORST case:
  near-uniform synthetic embeddings; real clustered corpora collide
  within clusters, raising recall while the candidate fraction falls
  with corpus size).
* ``vector_norms`` — norm/normalize surface (JVM higher-order functions).

Every approximate index here (LSH, IVF, PQ, IVF x PQ) only generates
``(query_id, neighbor_id)`` candidates; ``_exact_rerank`` is the one exact
stage they all feed, scoring with :func:`rounded_cosine` and ranking with
the same ``_top_k_by_cos`` tail as ``knn_bruteforce``, so every index is
measured against identical ranking semantics.

Determinism: hyperplanes come from a fixed LCG (no RNG), so signatures are
stable across runs and engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from full_data_infrastructure_spark.cache import tracked_persist
from full_data_infrastructure_spark.functions.vector import (
    cosine_sql,
    dot,
    l2_norm,
    rounded_cosine,
)
from full_data_infrastructure_spark.queries import register
from full_data_infrastructure_spark.sources.parquet import fan_out, load_table

N_QUERIES = 20  # query set: vec_id < 20
TOP_K = 5
LSH_PLANES = 32
DIM = 64


def load_embeddings(spark: SparkSession, sf_dir: str, *carry: str) -> DataFrame:
    """(vec_id, *carry, e, nrm): the embeddings table with the vector cast
    to array<double> (the oracle's DOUBLE[] cast, so folds are
    bit-deterministic) and its L2 norm computed once per row. Builders
    that cannot score a zero vector add ``.filter(F.col("nrm") > 0)``."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", *carry, F.col("embedding").cast("array<double>").alias("e")
    )
    return emb.select("vec_id", *carry, "e", l2_norm(F.col("e")).alias("nrm"))


def _top_k_by_cos(
    scored: DataFrame, k: int, part: str = "query_id", tie: str = "neighbor_id"
) -> DataFrame:
    """The rows of ``scored`` ranked per ``part`` by ``cos`` desc, then
    ``tie`` asc, keeping the first ``k`` with their rank as ``rnk``. The
    scores are rounded (:func:`rounded_cosine`) and the tiebreak is a
    unique id, so the ranking is deterministic across engines and
    partitionings."""
    w = Window.partitionBy(part).orderBy(F.col("cos").desc(), tie)
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def _exact_rerank(emb: DataFrame, shortlist: DataFrame) -> DataFrame:
    """Exact-cosine rerank of ANN ``(query_id, neighbor_id)`` candidates to
    top-TOP_K — the one final stage of knn_lsh, knn_ivf, knn_pq,
    knn_ivfpq and the shortlist label vote (same rounded score and
    ranking tail as knn_bruteforce, so recall is measured against
    identical ranking semantics). ``emb`` must carry (vec_id, e, nrm);
    only the candidates' vectors are scored."""
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("e_q"),
        F.col("nrm").alias("n_q"),
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("e_c"),
        F.col("nrm").alias("n_c"),
    )
    scored = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            rounded_cosine("e_q", "n_q", "e_c", "n_c").alias("cos"),
        )
    )
    return _top_k_by_cos(scored, TOP_K)


def stride_centroids(emb: DataFrame, n_cells: int) -> DataFrame:
    """(cell_id, c_e, c_nrm): deterministic coarse-quantizer seeds — every
    len(corpus)/n_cells-th vector of an (vec_id, e, nrm) table. The one
    seed sampler of the IVF quantizer, k-means, SemDeDup and the
    candidate histogram. At scale the seeds are refined with the
    distributed Lloyd's (kmeans_refine, the embedding_kmeans operator);
    the stride alone keeps CI and the DuckDB oracles reproducible. The
    stride comes from a broadcast 1-row aggregate, so callers stay a
    single lazy plan with no eager .count() job."""
    corpus_n = emb.agg(
        F.greatest(
            F.floor(F.count(F.lit(1)) / n_cells), F.lit(1).cast("bigint")
        ).alias("stride")
    )
    return (
        emb.crossJoin(F.broadcast(corpus_n))
        .filter(
            (F.col("vec_id") % F.col("stride") == 0)
            & (F.col("vec_id") / F.col("stride") < n_cells)
        )
        .select(
            (F.col("vec_id") / F.col("stride")).cast("int").alias("cell_id"),
            F.col("e").alias("c_e"),
            F.col("nrm").alias("c_nrm"),
        )
    )


def lcg_plane_value(plane: int, dim: int) -> float:
    """Deterministic pseudo-random in [-0.5, 0.5) — identical formula is
    reproducible in SQL for oracles: ((1103515245*(plane*DIM+dim)+12345)
    mod 2^31) / 2^31 - 0.5."""
    return ((1103515245 * (plane * DIM + dim) + 12345) % (2**31)) / (2**31) - 0.5


def hyperplanes() -> list[list[float]]:
    return [
        [lcg_plane_value(p, d) for d in range(DIM)] for p in range(LSH_PLANES)
    ]


def lsh_signature(vec: Column) -> Column:
    """32-bit random-hyperplane signature of a double-array column."""
    planes = hyperplanes()
    sig = F.lit(0).cast("bigint")
    for p, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(v) for v in plane]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig.bitwiseOR(
            F.when(d > 0, F.shiftleft(F.lit(1).cast("bigint"), p)).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    return sig


def knn_bruteforce(
    emb: DataFrame, queries: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x corpus, rank per query.

    Ranking uses the ROUNDED score (4 dp) with vec_id tiebreak so results
    are deterministic across engines and partitionings.

    Norms are precomputed per ROW, not per pair — dot/(n_q*n_c) uses the
    exact same operands as the oracle's sqrt(sum a^2)*sqrt(sum b^2), so
    results stay bit-identical while the per-pair work drops from three
    array folds to one (3x measured at sf0.1).
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("e_q"),
        l2_norm(F.col("e")).alias("n_q"),
    )
    # fan_out BEFORE the broadcast join: the per-pair scoring is
    # O(|corpus| * |queries| * DIM) map work chained on the corpus scan,
    # and a single-row-group embeddings file scans as ONE task (the whole
    # scoring pass serialized on one core). No-op at warehouse scale (see
    # fan_out).
    c = fan_out(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("e_c"),
        l2_norm(F.col("e")).alias("n_c"),
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        rounded_cosine("e_q", "n_q", "e_c", "n_c").alias("cos"),
    )
    return _top_k_by_cos(scored, k)


@register(
    "knn_bruteforce",
    f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, e AS e_q FROM v WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               ROUND({cosine_sql('q.e_q', 'c.e')}, 4) AS cos
        FROM q JOIN v c ON c.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= {TOP_K}
    """,
    doc="Exact cosine top-5 neighbors for the query set (vec_id < 20): "
    "broadcast queries, one corpus pass, windowed rank on rounded score.",
    tags=("llm", "similarity", "vector"),
)
def _knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return knn_bruteforce(emb, queries)


def lsh_candidates(sigs: DataFrame) -> DataFrame:
    """(query_id, neighbor_id) candidate pairs from banded LSH signatures
    with query-side multi-probe — the recall/cost core of knn_lsh, public
    so tests can hold the candidate fraction to a ceiling (recall must not
    be bought with a near-full scan)."""
    # 8 bands x 4 bits. Band count/width is one recall/cost dial (measured
    # at sf0.1 pre-multi-probe: 4 bands -> 0.39 recall@5, 8 bands -> 0.60);
    # the probe count and the min-shared-bands filter below are the finer
    # dials. Production tuning at 100 TB raises bits per band as corpus
    # density grows.
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright("sig", i * 4).bitwiseAND(F.lit(0xF)).alias("band_val"),
            )
            for i in range(LSH_PLANES // 4)
        ]
    )
    banded = sigs.select("vec_id", F.explode(bands).alias("b")).select(
        "vec_id", "b.band_idx", "b.band_val"
    )
    # Multi-probe on the QUERY side only: each query band also probes its
    # four 1-bit-flip variants, admitting corpus vectors whose band differs
    # by one plane's vote. The corpus sketch/banding pass is untouched; the
    # probe table stays tiny (|queries| x bands x 5), so the extra recall
    # is nearly free at any corpus size.
    probe_vals = F.array(
        F.col("band_val"),
        *[F.col("band_val").bitwiseXOR(F.lit(1 << b)) for b in range(4)],
    )
    q_bands = (
        banded.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            "band_idx",
            F.explode(probe_vals).alias("band_val"),
        )
    )
    # Candidate-id pairs aggregated BEFORE vectors are attached — the
    # groupBy shuffles (query_id, neighbor_id) pairs, never 64-dim arrays.
    # Requiring >=2 probed-band matches is the precision dial that offsets
    # multi-probe's recall boost: measured at sf0.1, >=1 band gives
    # recall 0.97 at 0.78 candidate fraction, >=2 gives 0.86 at 0.61,
    # >=3 gives 0.75 at 0.47 (near-uniform embeddings, LSH's worst case).
    return (
        banded.join(q_bands, ["band_idx", "band_val"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.count(F.lit(1)).alias("_nb"))
        .filter(F.col("_nb") >= 2)
        .select("query_id", "neighbor_id")
    )


@register(
    "knn_lsh",
    None,  # approximate — recall vs knn_bruteforce asserted in tests
    doc="LSH-bucketed ANN: 32 deterministic hyperplanes -> 32-bit signature "
    "banded 8 x 4 bits; queries multi-probe each band's 1-bit flips and "
    "candidates must share >=2 probed bands, ranked by exact cosine. "
    "O(n) sketch, bucket-local search — the scale path. Rows-only check; "
    "recall@5 vs brute force 0.86 at sf0.1 (was 0.60 pre-multi-probe) at "
    "0.61 candidate fraction on near-uniform synthetic embeddings — the "
    "adversarial case for LSH; clustered real corpora cut the fraction "
    "while holding recall.",
    tags=("llm", "similarity", "vector", "approx"),
)
def _knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = load_embeddings(spark, sf_dir).withColumn(
        "sig", lsh_signature(F.col("e"))
    )
    return _exact_rerank(sigs, lsh_candidates(sigs))


@register(
    "vector_norms",
    """
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    )
    SELECT vec_id,
           len(e) AS dim,
           ROUND(sqrt(list_sum(list_transform(e, x -> x * x))), 4) AS l2_norm,
           ROUND(list_sum(e), 4) AS component_sum
    FROM v
    """,
    doc="Vector norm surface: dimension, L2 norm, component sum — all "
    "higher-order JVM expressions over array<double>.",
    tags=("llm", "vector"),
)
def _vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    comp_sum = F.aggregate(F.col("e"), F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        "vec_id",
        F.size("e").alias("dim"),
        F.round(F.col("nrm"), 4).alias("l2_norm"),
        F.round(comp_sum, 4).alias("component_sum"),
    )


N_CELLS = 16  # IVF coarse-quantizer cells
N_PROBE = 6  # cells probed per query
CORPUS_ASSIGN = 2  # cells each corpus vector is indexed under (multi-assign)


def packed_centroids(centroids: DataFrame) -> DataFrame:
    """Collapse a (cell_id, c_e, c_nrm) centroid table into ONE row holding
    an array of cells, broadcastable onto every corpus row. Cell count is
    small by construction (it's a coarse quantizer), so the packed row is
    a few KB."""
    return centroids.agg(
        F.array_sort(
            F.collect_list(F.struct("cell_id", "c_e", "c_nrm"))
        ).alias("_cells")
    )


def ivf_assignments(emb: DataFrame, centroids: DataFrame, n_best: int) -> DataFrame:
    """Assign each vector to its ``n_best`` nearest centroid cells by
    cosine — a MAP-ONLY pass: the centroid table is packed into a single
    broadcast row, every corpus row scores all cells in-row with
    higher-order functions, sorts the (neg score, cell_id) structs, and
    explodes its top ``n_best``. ZERO shuffle for assignment (the earlier
    row_number-window form exchanged |cells| rows per vector — the one
    stage of the IVF/SemDeDup family whose shuffle grew with corpus x
    cells). Ordering matches the window form exactly: score desc,
    cell_id asc."""
    scored = emb.join(F.broadcast(packed_centroids(centroids)), F.lit(True))
    # The per-cell dot stays the FOLD: an unrolled expansion measured
    # slower (see pq_encode's rationale).
    per_cell = F.transform(
        "_cells",
        lambda c: F.struct(
            (
                -dot(F.col("e"), c["c_e"]) / (F.col("nrm") * c["c_nrm"])
            ).alias("neg_score"),
            c["cell_id"].alias("cell_id"),
        ),
    )
    top = F.slice(F.array_sort(per_cell), 1, n_best)
    return scored.select(
        "vec_id", F.explode(top).alias("_t")
    ).select("vec_id", F.col("_t.cell_id").alias("cell_id"))


def ivf_candidates(emb: DataFrame) -> DataFrame:
    """(query_id, neighbor_id) candidate pairs from the IVF index — the
    recall/cost core of knn_ivf, public so tests can hold the candidate
    fraction to a ceiling. ``emb`` must carry (vec_id, e, nrm)."""
    # Persisted: the centroid table feeds both the corpus assignment and
    # the query assignment, and each consumer's packed broadcast otherwise
    # re-ran the stride filter as its own full corpus pass. N_CELLS rows.
    centroids = tracked_persist(stride_centroids(emb, N_CELLS))

    # fan_out: the corpus assignment is O(|corpus| * N_CELLS * DIM) map
    # work; a single-row-group scan would run it on one task. The
    # centroid derivation above stays on the raw scan — it is persisted
    # and N_CELLS-sized, so it gains nothing from a repartition.
    corpus_cells = ivf_assignments(fan_out(emb), centroids, n_best=CORPUS_ASSIGN)
    query_vecs = emb.filter(F.col("vec_id") < N_QUERIES)
    query_cells = ivf_assignments(query_vecs, centroids, n_best=N_PROBE).select(
        F.col("vec_id").alias("query_id"), "cell_id"
    )

    # candidates: corpus vectors in any probed cell; ids only through the
    # shuffle, vectors re-attached after dedup
    return (
        query_cells.join(corpus_cells, "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )


@register(
    "knn_ivf",
    None,  # approximate — recall vs knn_bruteforce asserted in tests
    doc="IVF ANN: deterministic coarse quantizer (every len(corpus)/16-th "
    "vector is a centroid), corpus vectors indexed under their 2 nearest "
    "cells (multi-assignment catches cell-boundary vectors), queries "
    "probe the 6 nearest cells, exact cosine within probed cells "
    "(recall@5 vs brute force 0.88 at sf0.1, 0.62 candidate fraction — "
    "was 0.73 with single assignment). The inverted-file twin of "
    "knn_lsh: candidate volume scales with corpus/cells x assign x "
    "probes, independent of signature collision rates. Rows-only check; "
    "recall asserted in tests/test_operators.py.",
    tags=("llm", "similarity", "vector", "approx"),
)
def _knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    return _exact_rerank(emb, ivf_candidates(emb))


@register(
    "embedding_quantize_int8",
    """
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    m AS (
        SELECT vec_id, e,
               list_max(list_transform(e, x -> abs(x))) AS quant_scale
        FROM v
    )
    SELECT vec_id, quant_scale,
           array_to_string(
               list_transform(e,
                   x -> CAST(floor(x / quant_scale * 127 + 0.5) AS BIGINT)),
               ',') AS q_int8
    FROM m
    WHERE quant_scale > 0
    """,
    doc="Int8 embedding quantization (symmetric absmax): per-vector scale "
    "= max |x|, values mapped to [-127, 127] — 4x memory cut for the ANN "
    "corpus, dot products in integer arithmetic. Tie-safe across engines "
    "via explicit floor(x + 0.5) on identical operand order; emitted as a "
    "comma-joined string (array outputs don't normalize across engines).",
    tags=("llm", "vector"),
)
def _embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    # scale materialized through a projection: HOF lambdas get no CSE, so
    # referencing it inline would recompute the array_max per element
    scaled = emb.select(
        "vec_id",
        "e",
        F.array_max(F.transform("e", lambda x: F.abs(x))).alias("quant_scale"),
    ).filter(F.col("quant_scale") > 0)
    q = F.transform(
        "e",
        lambda x: F.floor(x / F.col("quant_scale") * 127 + 0.5).cast("bigint"),
    )
    return scaled.select(
        "vec_id",
        "quant_scale",
        F.concat_ws(",", F.transform(q, lambda i: i.cast("string"))).alias(
            "q_int8"
        ),
    )


@register(
    "embedding_lang_drift",
    """
    WITH v AS (
        SELECT d.lang, e.vec_id, CAST(e.embedding AS DOUBLE[]) AS e
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    ),
    pos AS (
        SELECT lang, vec_id, i AS p, e[i] AS x
        FROM v, UNNEST(range(1, len(e) + 1)) AS r(i)
    ),
    centroid AS (
        -- DECIMAL partial sums: exact regardless of addition order, so the
        -- per-position mean is bit-identical across engines; the final
        -- division happens once in DOUBLE with identical operands.
        SELECT lang, p,
               CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE)
                   / COUNT(*) AS c
        FROM pos GROUP BY lang, p
    )
    SELECT pos.vec_id AS doc_id, pos.lang,
           ROUND(SUM(pos.x * centroid.c)
                 / sqrt(SUM(pos.x * pos.x) * SUM(centroid.c * centroid.c)),
                 4) AS cos_to_centroid
    FROM pos JOIN centroid ON pos.lang = centroid.lang AND pos.p = centroid.p
    GROUP BY pos.vec_id, pos.lang
    """,
    doc="Embedding drift/outlier signal: cosine of each document's "
    "embedding to its LANGUAGE centroid. Positional sums use DECIMAL "
    "partials (order-independent, hence engine-exact per the rollup "
    "rule); the per-doc cosine folds 64 positions in double and rounds "
    "to 4dp like every other cosine here. Low cos_to_centroid flags "
    "mislabeled-language or off-distribution docs — the embedding-space "
    "twin of the token-level quality filters. One positional explode "
    "(docs x 64 rows) + a broadcast-sized centroid join keyed on "
    "(lang, position).",
    tags=("llm", "vector", "quality"),
)
def _embedding_lang_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = load_embeddings(spark, sf_dir)
    v = emb.join(docs, docs.doc_id == emb.vec_id).select("lang", "vec_id", "e")
    pos = v.select(
        "lang", "vec_id", F.posexplode("e").alias("p0", "x")
    ).select("lang", "vec_id", (F.col("p0") + 1).alias("p"), "x")
    centroid = pos.groupBy("lang", "p").agg(
        (
            F.sum(F.col("x").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    joined = pos.join(F.broadcast(centroid), ["lang", "p"])
    return (
        joined.groupBy(F.col("vec_id").alias("doc_id"), "lang")
        .agg(
            F.round(
                F.sum(F.col("x") * F.col("c"))
                / F.sqrt(
                    F.sum(F.col("x") * F.col("x"))
                    * F.sum(F.col("c") * F.col("c"))
                ),
                4,
            ).alias("cos_to_centroid")
        )
    )


@register(
    "knn_label_consistency",
    f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, e AS e_q, label AS true_label
          FROM v WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, q.true_label, c.label AS n_label,
               ROUND({cosine_sql('q.e_q', 'c.e')}, 4) AS cos, c.vec_id
        FROM q JOIN v c ON c.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, true_label, n_label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, vec_id) AS rnk
        FROM scored
    ),
    votes AS (
        SELECT query_id, true_label, n_label,
               CAST(COUNT(*) AS BIGINT) AS n_votes
        FROM ranked WHERE rnk <= {TOP_K} AND n_label IS NOT NULL
        GROUP BY query_id, true_label, n_label
    ),
    best AS (
        SELECT query_id, true_label, n_label AS predicted_label, n_votes,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY n_votes DESC, n_label) AS vr
        FROM votes
    )
    SELECT query_id, true_label, predicted_label, n_votes,
           true_label = predicted_label AS consistent
    FROM best WHERE vr = 1
    """,
    doc="kNN label-consistency check — embedding-space mislabel detection "
    "for training-data curation: each query vector's label is compared "
    "to the majority label of its exact top-5 cosine neighbors "
    "(deterministic tie-break: vote count desc, then label asc). "
    "Rows where consistent = false are the candidates a labeling-QA "
    "pass reviews. Reuses the broadcast-queries/one-corpus-pass "
    "knn_bruteforce plan, so cost is the scan the kNN already paid; "
    "the corpus-scale sweep is code, not prose: "
    "label_consistency_over_shortlist votes over the exact-reranked "
    "knn_ivfpq shortlist through the same shared vote tail, "
    "verdict-agreement floors pinned per SF in tests/test_operators.py.",
    tags=("llm", "similarity", "vector", "quality"),
)
def _knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir, "label")
    vecs = emb.select("vec_id", "e")
    queries = vecs.filter(F.col("vec_id") < N_QUERIES)
    neighbors = knn_bruteforce(vecs, queries)
    return _majority_label_vote(neighbors, emb)


def _majority_label_vote(neighbors: DataFrame, emb: DataFrame) -> DataFrame:
    """Shared vote tail of the exact and shortlist label-consistency
    checks: join neighbor labels, majority vote per query (vote count
    desc, label asc tiebreak), compare to the query's own label.  One
    definition so the two paths cannot drift in tie semantics.

    Unlabeled (NULL-label) neighbors DO NOT VOTE: they carry no label
    information, and letting NULL be a candidate label also exposes the
    engines' opposite NULL sort order in the tiebreak (Spark ASC is
    NULLS FIRST, ANSI default NULLS LAST — caught by the null-injected
    parity sweep).  A query whose entire shortlist is
    unlabeled therefore has no verdict and is absent from the output."""
    labeled = neighbors.join(
        emb.select(
            F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
        ),
        "neighbor_id",
    )
    votes = (
        labeled.filter(F.col("n_label").isNotNull())
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("n_label")
    )
    best = (
        votes.withColumn("vr", F.row_number().over(w))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("n_label").alias("predicted_label"), "n_votes")
    )
    truth = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
        )
    )
    return best.join(truth, "query_id").select(
        "query_id",
        "true_label",
        "predicted_label",
        "n_votes",
        (F.col("true_label") == F.col("predicted_label")).alias("consistent"),
    )


def label_consistency_over_shortlist(emb: DataFrame) -> DataFrame:
    """Scale twin of knn_label_consistency: the exact top-5 from
    knn_bruteforce swapped for the exact-reranked knn_ivfpq shortlist —
    the 'swap in lsh/ivf candidates for corpus-scale sweeps' the exact
    operator's docstring promises, as code.  The vote tail is shared
    (_majority_label_vote); per-SF verdict-agreement floors pinned in
    tests/test_operators.py.  ``emb`` must carry (vec_id, label, e,
    nrm)."""
    vecs = emb.select("vec_id", "e", "nrm")
    neighbors = _exact_rerank(vecs, ivfpq_shortlist(vecs))
    return _majority_label_vote(neighbors, emb)



# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search") — the compressed-domain ANN path
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (DIM/PQ_SUB)
PQ_SUB = DIM // PQ_M  # dims per subspace
PQ_CODES = 64  # codewords per subspace -> 6-bit codes, 8 codes/vector
PQ_RERANK = 80  # ADC shortlist size fed to exact re-ranking
PQ_TRAIN = PQ_CODES * 16  # codebook training sample (stride-drawn vectors)


def _subvectors(vecs: DataFrame) -> DataFrame:
    """Explode (vec_id, en) into (vec_id, s, sub): PQ_M slices of PQ_SUB
    dims. Scan-local projection — no shuffle."""
    slices = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice("en", s * PQ_SUB + 1, PQ_SUB).alias("sub"),
            )
            for s in range(PQ_M)
        ]
    )
    keep = [c for c in vecs.columns if c != "en"]
    return vecs.select(*keep, F.explode(slices).alias("_x")).select(
        *keep, "_x.s", "_x.sub"
    )


def packed_codebook(codebook: DataFrame) -> DataFrame:
    """(s, _codes): each subspace's codewords packed into one array row —
    PQ_CODES structs of a PQ_SUB-dim vector each, a few KB per subspace,
    broadcastable onto the subvector stream."""
    return codebook.groupBy("s").agg(
        F.array_sort(F.collect_list(F.struct("code", "c_sub"))).alias("_codes")
    )


def pq_encode(subs: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vec_id, s, code): nearest codeword per subvector by squared L2,
    code-id tiebreak — a MAP-ONLY pass: the per-subspace codebook is
    packed into one broadcast array row, each subvector computes all
    PQ_CODES distances in-row with nested higher-order functions, and
    ``array_min`` over (d2, code) structs is the argmin. Encode cost is
    O(n * PQ_M * PQ_CODES) scan-local work, the PQ encode complexity
    from the paper, with ZERO encode shuffle (the earlier min_by
    aggregation exchanged a pre-combined row per (vec, s); this form
    exchanges nothing)."""
    j = subs.join(F.broadcast(packed_codebook(codebook)), "s")
    # The d² stays the zip_with+aggregate FOLD on purpose (an unrolled
    # (x-y)*(x-y) expansion measured slower and was reverted): transform
    # lambdas are interpreted either way (CodegenFallback), interpreted
    # trees get no CSE so the expansion re-evaluates each array access
    # per reference (88s vs 13s task-time on the corpus encode), and at
    # top level the 129-node unrolled tree gets inlined through every
    # projection reference, bloating analysis/optimization wall time past
    # what the codegen win returns at any tested width.
    per_code = F.transform(
        "_codes",
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(F.col("sub"), c["c_sub"], lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d2"),
            c["code"].alias("code"),
        ),
    )
    best = F.array_min(per_code)
    return j.select("vec_id", "s", best["code"].alias("code"))


def pq_codebook(subs: DataFrame) -> DataFrame:
    """(s, code, c_sub): per-subspace codebooks — stride-sampled corpus
    subvectors refined with one Lloyd iteration (assign to nearest
    codeword, recenter on the positional mean). One k-means step
    lifts recall@5 0.67 -> 0.80 at sf0.1; a second adds nothing on this
    corpus. Centroids are ROUNDed to 6 dp so the float mean's
    merge-order wobble cannot leak into code assignments — downstream is
    then fully deterministic.

    The Lloyd refinement assigns a stride-drawn TRAINING SAMPLE of
    ``PQ_TRAIN`` vectors, not the full corpus — the standard PQ recipe
    (Jégou et al. train codebooks on a learning set), and the property
    that makes the build scale-free: at 100 TB the refinement cost is
    per-training-row, the corpus is touched only by the single final
    encode, and the codebook stays a 512-row broadcast."""
    vec_ids = subs.select("vec_id").distinct()
    strides = vec_ids.agg(
        F.greatest(
            F.floor(F.count(F.lit(1)) / PQ_CODES), F.lit(1).cast("bigint")
        ).alias("stride"),
        F.greatest(
            F.floor(F.count(F.lit(1)) / PQ_TRAIN), F.lit(1).cast("bigint")
        ).alias("train_stride"),
    )
    seeded = subs.crossJoin(F.broadcast(strides))
    cb = (
        seeded.filter(
            (F.col("vec_id") % F.col("stride") == 0)
            & (F.col("vec_id") / F.col("stride") < PQ_CODES)
        )
        .select(
            "s",
            (F.col("vec_id") / F.col("stride")).cast("int").alias("code"),
            F.col("sub").alias("c_sub"),
        )
    )
    train = seeded.filter(F.col("vec_id") % F.col("train_stride") == 0).select(
        "vec_id", "s", "sub"
    )
    return (
        pq_encode(train, cb)
        .join(train, ["vec_id", "s"])
        .groupBy("s", "code")
        .agg(
            F.array(
                *[F.round(F.avg(F.element_at("sub", i + 1)), 6) for i in range(PQ_SUB)]
            ).alias("c_sub")
        )
    )


def _pq_artifacts(emb: DataFrame):
    """Shared PQ construction of knn_pq and knn_ivfpq: L2-normalize ->
    subvectors (persisted once — codebook training, encoding and the
    query LUT all read it) -> codebook -> corpus code table -> broadcast
    query ADC lookup table. One definition so the compression path the
    two indexes score with cannot drift.

    The code table and the query LUT are NOT persisted: each has exactly
    ONE consumer — the ADC join — so a persist buys zero recomputation
    and costs a materialization barrier (its own AQE stage-job chain plus
    the cache write) on every run.  At 100 TB the code table is still a
    materialized artifact — a real deployment WRITES it once per corpus
    snapshot and every query batch reads the file, which is a storage
    decision outside a single query's plan, not an in-plan persist."""
    # fan_out: everything below — normalize, subvector explode, the
    # persisted subs cache and the Lloyd/encode passes that read it —
    # inherits the scan's partitioning, and a single-row-group scan
    # serializes the whole PQ construction on one task. The cache
    # is written already fanned out, at fan_out's fixed width, which AQE
    # does not coalesce, so every downstream encode pass parallelizes
    # too. No-op at warehouse scale (see fan_out).
    en = fan_out(emb).select(
        "vec_id", F.transform("e", lambda x: x / F.col("nrm")).alias("en")
    )
    subs = tracked_persist(_subvectors(en))
    # The trained codebook is persisted too: it feeds BOTH the corpus
    # encode and the query LUT, and without the persist each consumer
    # re-ran the whole Lloyd refinement (stride seed + training-sample
    # encode + recenter) — one redundant training pass per artifact.
    # 512 rows; it is the third index artifact.
    cb = tracked_persist(pq_codebook(subs))
    codes = pq_encode(subs, cb)
    q_subs = subs.filter(F.col("vec_id") < N_QUERIES).withColumnRenamed(
        "vec_id", "query_id"
    )
    lut = q_subs.join(F.broadcast(cb), "s").select(
        "query_id", "s", "code", dot(F.col("sub"), F.col("c_sub")).alias("p")
    )
    return codes, lut


def pq_adc_candidates(emb: DataFrame) -> DataFrame:
    """(query_id, neighbor_id) ADC shortlist — the recall/cost core of
    knn_pq, public so tests can hold the shortlist fraction to a ceiling.
    ``emb`` must carry (vec_id, e, nrm).

    Vectors are L2-normalized first, so the Asymmetric Distance
    Computation — dot(query subvector, codeword) summed over subspaces
    via a broadcast lookup table — approximates COSINE directly. The
    corpus-side operand is 8 six-bit codes (6 bytes vs 256 for the
    float32 vector, a 42x memory cut); the scan never touches corpus
    vectors after encoding, which is the point of PQ: the ADC pass reads
    the compressed corpus only."""
    codes, lut = _pq_artifacts(emb)
    adc = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("p").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), "vec_id")
    return (
        adc.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= PQ_RERANK)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )


@register(
    "knn_pq",
    None,  # approximate — recall vs knn_bruteforce asserted in tests
    doc="Product-quantization ANN (Jégou et al.): 8 subspaces x 64 "
    "codewords (6-byte codes, 42x smaller than the float32 vectors), "
    "codebooks stride-seeded + one Lloyd refinement, ADC cosine via a "
    "broadcast lookup table over the COMPRESSED corpus, top-80 shortlist "
    "exact-reranked to top-5. The compressed-domain twin of knn_lsh/"
    "knn_ivf: those prune which vectors are scored, PQ shrinks what a "
    "score costs — at 100 TB they compose (IVF cells -> ADC within "
    "probed cells). Rows-only; recall floors and a shortlist-fraction "
    "ceiling in tests/test_operators.py.",
    tags=("llm", "similarity", "vector", "approx"),
)
def _knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir).filter(F.col("nrm") > 0)
    return _exact_rerank(emb, pq_adc_candidates(emb))


def ivfpq_shortlist(emb: DataFrame) -> DataFrame:
    """(query_id, neighbor_id) shortlist from the IVF x PQ composition:
    IVF prunes WHICH vectors are scored (probed-cell candidates), ADC
    over the PQ code table shrinks what each score COSTS — the classic
    IVFADC index layout (Jégou et al. §V). Public so tests can bound
    the shortlist. The candidate list is consumed exactly once (the ADC
    join), so it is NOT persisted — see _pq_artifacts' code-table
    rationale (a single-consumer persist is pure materialization-barrier
    overhead)."""
    cand = ivf_candidates(emb)
    codes, lut = _pq_artifacts(emb)
    adc = (
        cand.join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("p").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), "neighbor_id")
    return (
        adc.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= PQ_RERANK)
        .select("query_id", "neighbor_id")
    )


@register(
    "knn_ivfpq",
    None,  # approximate — recall vs knn_bruteforce asserted in tests
    doc="IVF+PQ ANN (IVFADC, Jégou et al. §V): the promised composition "
    "of the two scale paths, now a measured operator rather than a "
    "docstring claim — IVF probed-cell candidates scored by ADC over the "
    "42x-compressed PQ code table, top-80 exact-reranked to top-5. At "
    "100 TB this is the layout that works: cells bound the scan, codes "
    "bound the bytes, and only the final 80 touch a float vector. "
    "Rows-only; per-SF recall floors in tests/test_operators.py. "
    "The query includes the one-time codebook/cell training, which "
    "dominates at small SF (brute has no build phase) — at corpus scale "
    "the build amortizes across every query batch while brute's "
    "per-query scan grows linearly.",
    tags=("llm", "similarity", "vector", "approx"),
)
def _knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir).filter(F.col("nrm") > 0)
    return _exact_rerank(emb, ivfpq_shortlist(emb))


@register(
    "hard_negative_mining",
    f"""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ),
    q AS (SELECT vec_id AS anchor_id, label AS a_label, e AS e_q
          FROM v WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.anchor_id, q.a_label,
               c.vec_id AS negative_id, c.label AS n_label,
               ROUND({cosine_sql('q.e_q', 'c.e')}, 4) AS cos
        FROM q JOIN v c
          ON c.vec_id != q.anchor_id AND c.label != q.a_label
    ),
    ranked AS (
        SELECT anchor_id, a_label, negative_id, n_label, cos,
               ROW_NUMBER() OVER (PARTITION BY anchor_id
                                  ORDER BY cos DESC, negative_id) AS rnk
        FROM scored
    )
    SELECT anchor_id, a_label, negative_id, n_label, cos
    FROM ranked WHERE rnk = 1
    """,
    doc="Hard-negative mining for contrastive training: per anchor, the "
    "single most similar corpus vector with a DIFFERENT label — the "
    "negatives that actually move a contrastive loss, vs easy random "
    "ones. Exact top-1 by rounded cosine with id tiebreak "
    "(oracle-checked); the scale path is code, not prose: "
    "hard_negatives_over_shortlist swaps the anchor x corpus pass for "
    "the knn_ivfpq shortlist + a label-mismatch post-filter, per-SF "
    "top-1 agreement floors pinned in tests/test_operators.py.",
    tags=("llm", "vector"),
)
def _hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir, "label")
    scored = (
        emb.join(
            F.broadcast(_anchors(emb)),
            (F.col("vec_id") != F.col("anchor_id"))
            & (F.col("label") != F.col("a_label")),
        )
        .select(
            "anchor_id",
            "a_label",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("n_label"),
            rounded_cosine("e_q", "n_q", "e", "nrm").alias("cos"),
        )
    )
    return _hardest_negative(scored)


def _anchors(emb: DataFrame) -> DataFrame:
    """(anchor_id, a_label, e_q, n_q): the query vectors both hard-negative
    miners mine for, from an (vec_id, label, e, nrm) table."""
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("e").alias("e_q"),
        F.col("nrm").alias("n_q"),
    )


def _hardest_negative(scored: DataFrame) -> DataFrame:
    """Rank tail of both hard-negative miners: the top-1 by rounded
    ``cos`` per anchor, ``negative_id`` tiebreak (:func:`_top_k_by_cos`)."""
    return _top_k_by_cos(scored, 1, part="anchor_id", tie="negative_id").drop(
        "rnk"
    )


def hard_negatives_over_shortlist(emb: DataFrame) -> DataFrame:
    """Scale twin of the exact hard-negative miner: the anchor x corpus
    pass swapped for the knn_ivfpq shortlist plus a label-mismatch
    post-filter — the composition the exact operator's docstring
    promises, as code (the cosine_threshold_histogram twin pattern).
    Candidates come from the persisted IVFADC index (cells bound the
    scan, codes bound the bytes), each anchor exact-scores only its
    ~PQ_RERANK shortlisted different-label mates, and the top-1 is the
    mined negative.  An anchor whose entire shortlist shares its label
    drops out — the recall/cost trade tests pin with a per-SF agreement
    floor against the exact miner.  ``emb`` must carry
    (vec_id, label, e, nrm)."""
    shortlist = ivfpq_shortlist(emb.select("vec_id", "e", "nrm"))
    cands = emb.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("n_label"),
        F.col("e").alias("e_c"),
        F.col("nrm").alias("n_c"),
    )
    scored = (
        shortlist.withColumnRenamed("query_id", "anchor_id")
        .withColumnRenamed("neighbor_id", "negative_id")
        .join(F.broadcast(_anchors(emb)), "anchor_id")
        .join(cands, "negative_id")
        .filter(F.col("n_label") != F.col("a_label"))
        .select(
            "anchor_id",
            "a_label",
            "negative_id",
            "n_label",
            rounded_cosine("e_q", "n_q", "e_c", "n_c").alias("cos"),
        )
    )
    return _hardest_negative(scored)


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd's algorithm) — the offline clustering step the
# IVF quantizer and SemDeDup docstrings defer to, as a real operator
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 2  # mean-refinement rounds; the emitted assignment is the
# (KMEANS_ITERS+1)-th, against the last refined centroids


def nearest_cell(
    df: DataFrame,
    cents: DataFrame,
    carry: tuple[str, ...] = (),
    cell_alias: str = "cell_id",
    cos_alias: str = "cos",
) -> DataFrame:
    """Map-only nearest-centroid assignment on ROUNDED cosine (4 dp,
    cell-id tiebreak): centroids packed into one broadcast row, every
    vector scores all cells in-row and takes the lexicographic min of
    (neg rounded cos, cell_id) — same ordering as a (cos desc, cell_id)
    window rank with ZERO assignment shuffle. The single definition of
    the bit-stability-critical kernel k-means (kmeans_assign) and
    SemDeDup (dedup.semantic_dedup_flags) both rank with — the rounding/
    tiebreak contract cannot drift between them."""
    joined = df.join(F.broadcast(packed_centroids(cents)), F.lit(True))
    # The per-cell dot stays the FOLD: an unrolled expansion measured
    # slower (see pq_encode's rationale).
    per_cell = F.transform(
        "_cells",
        lambda c: F.struct(
            (-rounded_cosine("e", "nrm", c["c_e"], c["c_nrm"])).alias("neg_cos"),
            c["cell_id"].alias("cell_id"),
        ),
    )
    best = F.array_min(per_cell)
    return joined.select(
        "vec_id",
        *carry,
        best["cell_id"].alias(cell_alias),
        (-best["neg_cos"]).alias(cos_alias),
    )


def kmeans_assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cluster_id, cos): nearest centroid by rounded cosine —
    :func:`nearest_cell` under k-means column names, so every assignment
    decision is bit-stable across engines and the whole k-means chain
    stays oracle-checkable."""
    return nearest_cell(emb, cents, cell_alias="cluster_id", cos_alias="cos")


def kmeans_refine(emb: DataFrame, assigned: DataFrame) -> DataFrame:
    """New centroids as per-position DECIMAL-exact means of each cluster's
    members, rounded to 6 dp — order-independent partial sums make the
    mean bit-identical across engines and partitionings (the
    embedding_lang_drift rule), and the rounding keeps downstream
    assignment decisions stable. Clusters that lose all members die, in
    both engines identically. One positional shuffle of (cluster, p,
    decimal) partials per iteration — the k-means training reduce."""
    pos = (
        assigned.join(emb, "vec_id")
        .select("cluster_id", F.posexplode("e").alias("p", "x"))
        .groupBy("cluster_id", "p")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(28,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("x")
        )
    )
    cent = pos.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "x"))), lambda s: s["x"]
        ).alias("c_e")
    )
    return cent.select(
        F.col("cluster_id").alias("cell_id"),
        "c_e",
        l2_norm(F.col("c_e")).alias("c_nrm"),
    )


def _kmeans_oracle() -> str:
    k, d = KMEANS_K, DIM
    sql = f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        WHERE sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> x * x))) > 0
    ),
    s AS (
        SELECT greatest(CAST(floor(count(*) / {k}) AS BIGINT), 1) AS stride
        FROM v
    ),
    cent0 AS (
        SELECT CAST(vec_id / stride AS INT) AS cluster_id, e AS ce
        FROM v, s
        WHERE vec_id % stride = 0 AND vec_id / stride < {k}
    )"""
    for i in range(KMEANS_ITERS + 1):
        sql += f""",
    a{i} AS (
        SELECT vec_id, cluster_id, cos FROM (
            SELECT sc.*, ROW_NUMBER() OVER (PARTITION BY vec_id
                                            ORDER BY cos DESC, cluster_id)
                       AS rn
            FROM (
                SELECT v.vec_id, c.cluster_id,
                       ROUND({cosine_sql('v.e', 'c.ce')}, 4) AS cos
                FROM v CROSS JOIN cent{i} c
            ) sc
        ) WHERE rn = 1
    )"""
        if i < KMEANS_ITERS:
            sql += f""",
    m{i} AS (
        SELECT a.cluster_id, r.i AS p,
               ROUND(CAST(SUM(CAST(v.e[r.i] AS DECIMAL(28,10))) AS DOUBLE)
                     / COUNT(*), 6) AS x
        FROM a{i} a JOIN v ON v.vec_id = a.vec_id,
             UNNEST(range(1, {d + 1})) AS r(i)
        GROUP BY a.cluster_id, r.i
    ),
    cent{i + 1} AS (
        SELECT cluster_id, list(x ORDER BY p) AS ce FROM m{i}
        GROUP BY cluster_id
    )"""
    sql += f"""
    SELECT vec_id, cluster_id, cos FROM a{KMEANS_ITERS}
    """
    return sql


@register(
    "embedding_kmeans",
    _kmeans_oracle(),
    doc=f"Distributed k-means (Lloyd's): {KMEANS_K} stride-seeded "
    f"centroids, {KMEANS_ITERS} mean-refinement rounds, final assignment "
    "emitted — the offline clustering step the IVF quantizer and "
    "SemDeDup defer to, as a real oracle-checked operator. Per round: a "
    "map-only packed-broadcast assignment on ROUNDED cosine (bit-stable "
    "decisions) and one positional reduce with DECIMAL-exact means "
    "(order-independent, hence engine-identical; the "
    "embedding_lang_drift rule) rounded to 6 dp. The oracle unrolls the "
    "same iterations as CTE stages. At 100 TB the assignment pass is "
    "shuffle-free and the training reduce moves K x dim decimals per "
    "partition per round.",
    tags=("llm", "vector"),
    exact_float_cols=("cos",),
)
def _embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir).filter(F.col("nrm") > 0)
    cents = stride_centroids(emb, KMEANS_K)
    for _ in range(KMEANS_ITERS):
        cents = kmeans_refine(emb, kmeans_assign(emb, cents))
    return kmeans_assign(emb, cents)


# ---------------------------------------------------------------------------
# Distributed PCA — the whitening/projection step SemDeDup-style semantic
# pipelines run before clustering, as a one-pass map-only operator
# ---------------------------------------------------------------------------

PCA_K = 8  # retained components


def gram_partials(emb: DataFrame) -> DataFrame:
    """One map-only pass that reduces the n x d embeddings of column ``e`` to
    per-partition sufficient statistics for PCA: row count, d-dim feature
    sum, and the d x d Gram matrix (flattened) — the same sketch-then-merge
    shape as heavy_hitter_candidates. For d=64 each partition emits one row
    of 4096+64+1 doubles regardless of row count, so the driver-side merge
    is O(partitions · d²) and NOTHING data-sized ever leaves the executors.
    numpy does the per-batch accumulation (one BLAS gemm per Arrow batch)."""
    import pandas as pd

    def summarize(batches):
        import numpy as np

        n, s, g = 0, None, None
        for pdf in batches:
            # Arrow may deliver empty batches, and a NULL embedding would
            # make vstack raise — drop nulls (they carry no statistics).
            col = pdf["e"].dropna()
            if col.empty:
                continue
            m = np.vstack(col.to_numpy()).astype(np.float64)
            n += m.shape[0]
            s = m.sum(axis=0) if s is None else s + m.sum(axis=0)
            gg = m.T @ m
            g = gg if g is None else g + gg
        if n == 0:
            return
        yield pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]})

    return emb.select("e").mapInPandas(
        summarize, "n long, s array<double>, g array<double>"
    )


def pca_components(emb: DataFrame):
    """Top-PCA_K principal components from the merged Gram partials:
    covariance C = G/n − mean·meanᵀ, then a driver-side d x d eigendecomposition
    (d=64 — microseconds; the DATA never leaves the cluster, only the
    d² sufficient statistics do). Components are sign-canonicalized
    (largest-|coefficient| entry made positive) so the projection is
    deterministic despite eigenvector sign ambiguity. Returns
    (components ndarray PCA_K x d, eigenvalues ndarray PCA_K, mean ndarray
    d)."""
    import numpy as np

    parts = gram_partials(emb).collect()
    if not parts:
        raise ValueError("PCA needs a non-empty embedding corpus")
    n = sum(r.n for r in parts)
    s = np.sum([np.asarray(r.s) for r in parts], axis=0)
    g = np.sum([np.asarray(r.g) for r in parts], axis=0)
    d = s.shape[0]
    mean = s / n
    cov = g.reshape(d, d) / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:PCA_K]
    comps = evecs[:, order].T
    flip = np.sign(comps[np.arange(len(order)), np.abs(comps).argmax(axis=1)])
    comps = comps * flip[:, None]
    return comps, evals[order], mean


@register(
    "embedding_pca_project",
    None,  # rows-only: eigendecomposition is not SQL-expressible; the
    # projection's optimality/orthonormality/parity with numpy PCA is
    # asserted in tests/test_operators.py::TestEmbeddingPCA
    doc="PCA projection of the embedding corpus onto its top-8 principal "
    "components — the dimensionality-reduction/whitening stage semantic "
    "dedup and IVF train on. Two passes: a map-only sufficient-statistics "
    "sketch (per-partition count/sum/Gram, O(d²) rows out), a driver-side "
    "64 x 64 eigh, then the projection as k JVM fold expressions over "
    "the broadcast (literal) mean-centered components — no shuffle and "
    "no sort anywhere, so the 100 TB cost is exactly two corpus scans.",
    tags=("llm", "vector", "approx"),
)
def _embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    try:
        comps, _evals, mean = pca_components(emb)
    except ValueError:
        # Empty corpus: the projection of nothing is nothing, but the
        # schema must stay (vec_id, pc0..pcK-1) so downstream consumers
        # and restarts see a stable frame instead of a crashed stage.
        return emb.select(
            "vec_id", *[F.lit(0.0).alias(f"pc{i}") for i in range(PCA_K)]
        )
    mean_col = F.array(*[F.lit(float(x)) for x in mean])
    centered = emb.select(
        "vec_id", F.zip_with("e", mean_col, lambda a, b: a - b).alias("c")
    )
    proj_cols = [
        F.round(
            dot(F.col("c"), F.array(*[F.lit(float(x)) for x in comp])), 4
        ).alias(f"pc{i}")
        for i, comp in enumerate(comps)
    ]
    return centered.select("vec_id", *proj_cols)
