"""Behavioral unit tests beyond oracle parity: sketch recall vs exact
baselines, error paths, masking roles, generator properties, quality-suite
failure semantics, enrichment failure rows.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from full_data_infrastructure_spark.operators.dedup import (
    exact_jaccard_pairs,
    minhash_dedup_pairs,
    simhash_dedup_pairs,
)
from full_data_infrastructure_spark.operators.enrichment import (
    enrich_with_distance,
    failing_provider,
    validate_enriched,
)
from full_data_infrastructure_spark.operators.generator import generate_activities
from full_data_infrastructure_spark.operators.quality import (
    assert_suite,
    expect_between,
    expect_not_null,
    run_suite,
)
from full_data_infrastructure_spark.operators.relational import masked_projection
from full_data_infrastructure_spark.operators.similarity import (
    knn_bruteforce,
    load_embeddings,
)
from full_data_infrastructure_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def near_dup_docs(spark, sf_dir):
    """Documents plus planted near-duplicates (one token appended) and one
    exact duplicate family — known ground truth for the sketches."""
    docs = load_table(spark, sf_dir, "documents").limit(150)
    mutated = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" zz")).alias("text"),
    )
    exact = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return docs.select("doc_id", "text").union(mutated).union(exact)


def test_minhash_recall_vs_exact(near_dup_docs):
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in exact_jaccard_pairs(near_dup_docs, 0.5).collect()
    }
    assert len(truth) >= 30  # the planted pairs are found by the exact baseline
    found = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_dedup_pairs(near_dup_docs, 0.5).collect()
    }
    # verification step guarantees precision; LSH banding governs recall
    assert found <= truth
    recall = len(found & truth) / len(truth)
    assert recall >= 0.9, f"minhash recall {recall:.2f} < 0.9"


def test_simhash_finds_exact_dups(near_dup_docs):
    pairs = simhash_dedup_pairs(near_dup_docs).collect()
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs}
    # every exact duplicate family must surface at hamming 0
    for d in range(5):
        assert got.get((d, d + 200000)) == 0, f"exact dup {d} missed"


def test_knn_lsh_recall(spark, sf_dir):
    from full_data_infrastructure_spark.operators.similarity import (
        N_QUERIES,
        lsh_candidates,
        lsh_signature,
    )
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    brute = REGISTRY["knn_bruteforce"].build(spark, sf_dir).collect()
    lsh = REGISTRY["knn_lsh"].build(spark, sf_dir).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in brute}
    approx = {(r["query_id"], r["neighbor_id"]) for r in lsh}
    recall = len(truth & approx) / len(truth)
    # Deterministic (LCG hyperplanes): measured 0.78 / 0.84 / 0.86 at
    # sf0.001 / 0.01 / 0.1 with query-side multi-probe + >=2-band filter.
    # Random 64-d vectors are LSH's worst case; the floor is per-SF so
    # the 0.84+ measured at driver scale can't silently regress to the
    # small-fixture 0.75 bound (VERDICT r4 nit 1).
    floor = 0.75 if sf_dir.rstrip("/").endswith("0.001") else 0.82
    assert recall >= floor, f"knn_lsh recall {recall:.2f} < {floor}"
    assert all(q < 20 for q, _ in approx)
    # Recall must not be bought with a near-full scan: the candidate set
    # (measured 0.58-0.61 of all query-corpus pairs on near-uniform
    # embeddings, LSH's worst case) stays under a 0.70 ceiling.
    emb = load_embeddings(spark, sf_dir)
    n_corpus = emb.count()
    sigs = emb.select("vec_id", "e", "nrm", lsh_signature(F.col("e")).alias("sig"))
    frac = lsh_candidates(sigs).count() / (N_QUERIES * (n_corpus - 1))
    assert frac <= 0.70, f"knn_lsh candidate fraction {frac:.2f}"


def test_quality_suite_failure_raises(spark, sf_dir):
    lineitem = load_table(spark, sf_dir, "lineitem")
    with pytest.raises(ValueError, match="validation failed"):
        assert_suite(lineitem, [expect_between("l_quantity", min_value=10_000)])


def test_quality_mostly_semantics(spark):
    df = spark.createDataFrame(
        [(1.0,), (2.0,), (None,), (-5.0,)], "x double"
    )
    # 2 of 3 non-null rows in range => 0.6667
    rows = run_suite(df, [expect_between("x", min_value=0, mostly=0.5)]).collect()
    assert rows[0]["passed"] is True
    assert abs(rows[0]["observed"] - 0.6667) < 1e-4
    rows = run_suite(df, [expect_between("x", min_value=0, mostly=0.9)]).collect()
    assert rows[0]["passed"] is False
    rows = run_suite(df, [expect_not_null("x")]).collect()
    assert rows[0]["passed"] is False and rows[0]["observed"] == 1.0


def test_masked_projection_roles(spark, sf_dir):
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    bi = masked_projection(customer, ["c_name"], "bi_user", ("bi_user",))
    assert bi.filter(F.col("c_name").isNotNull()).count() == 0
    analyst = masked_projection(customer, ["c_name"], "analyst", ("bi_user",))
    assert analyst.filter(F.col("c_name").isNull()).count() == 0


def test_enrichment_error_rows_preserved(spark, sf_dir):
    customer = (
        load_table(spark, sf_dir, "customer")
        .limit(20)
        .select(
            F.col("c_custkey").alias("id_employee"),
            F.col("c_mktsegment").alias("transport_mode"),
        )
    )
    out = validate_enriched(enrich_with_distance(customer, provider=failing_provider))
    rows = out.collect()
    assert len(rows) == 20  # U1: failures become null rows, never drops
    assert all(r["distance_m"] is None for r in rows)
    assert all("unavailable" in r["error_message"] for r in rows)
    assert all(r["is_valid"] is None for r in rows)


def test_enrichment_rate_limit_spaces_provider_calls(spark):
    """``requests_per_sec`` (the reference's 0.2 s pause between distance
    API calls) spaces consecutive provider calls within a partition by at
    least 1/requests_per_sec: a provider that returns the monotonic clock
    as its distance records when each call ran."""
    import time

    def clock_provider(key: int, mode: str) -> tuple[float, float]:
        return time.monotonic(), 0.0

    df = spark.createDataFrame(
        [(i, "car") for i in range(6)], "id_employee bigint, transport_mode string"
    ).coalesce(1)
    rows = enrich_with_distance(
        df, provider=clock_provider, requests_per_sec=20
    ).collect()
    stamps = sorted(r["distance_m"] for r in rows)
    gaps = [b - a for a, b in zip(stamps, stamps[1:])]
    assert len(gaps) == 5
    assert min(gaps) >= 0.05, gaps


def test_generator_properties(spark, sf_dir):
    customer = load_table(spark, sf_dir, "customer")
    acts = generate_activities(customer, "c_custkey").cache()
    n_emp = customer.count()
    n = acts.count()
    # participation ~5% weekday/15% weekend over 91 days => ~6.5 rows/employee
    assert 3 * n_emp < n < 12 * n_emp
    sports = {r["sport_type"] for r in acts.select("sport_type").distinct().collect()}
    assert "yoga" in sports and "running" in sports
    yoga = acts.filter(F.col("sport_type") == "yoga")
    assert yoga.filter(F.col("distance_m").isNotNull()).count() == 0
    assert yoga.filter(~F.col("duration_sec").between(1800, 7199)).count() == 0
    assert acts.filter(F.col("sport_type") != "yoga").filter(
        F.col("distance_m").isNull()
    ).count() == 0
    assert acts.filter(~F.col("start_hour").between(6, 21)).count() == 0
    acts.unpersist()


def test_knn_bruteforce_is_symmetric_sane(spark, sf_dir):
    emb = load_embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 3)
    out = knn_bruteforce(emb, queries, k=2).collect()
    assert len(out) == 6
    assert all(-1.0 <= r["cos"] <= 1.0 for r in out)
    assert all(r["neighbor_id"] != r["query_id"] for r in out)


def test_knn_ivf_recall(spark, sf_dir):
    """IVF with 2-cell corpus multi-assignment probes 6/16 cells.
    Deterministic (stride centroids): top-1 recall measured 0.90 / 0.90 /
    0.90 at sf0.001 / 0.01 / 0.1 — 0.84 is the floor with margin — at a
    measured 0.62 candidate fraction, held under a 0.70 ceiling so recall
    can't silently be bought with a near-full scan."""
    from full_data_infrastructure_spark.operators.similarity import (
        N_QUERIES,
        ivf_candidates,
    )
    from full_data_infrastructure_spark.queries import REGISTRY

    exact = REGISTRY["knn_bruteforce"].build(spark, sf_dir).collect()
    ivf = REGISTRY["knn_ivf"].build(spark, sf_dir).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact if r["rnk"] == 1}
    approx = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.84, f"knn_ivf recall {recall:.2f}"
    emb = load_embeddings(spark, sf_dir)
    n_corpus = emb.count()
    frac = ivf_candidates(emb).count() / (N_QUERIES * (n_corpus - 1))
    assert frac <= 0.70, f"knn_ivf candidate fraction {frac:.2f}"
    # every returned neighbor must be scored correctly: spot check one query
    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["cos"] for r in exact
    }
    for r in ivf:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert abs(r["cos"] - exact_scores[key]) < 1e-9


def test_ann_queries_emit_exact_scores_and_ranks(spark, sf_dir):
    """Every approximate kNN query ends in the shared exact rerank, so each
    row's ``cos`` must equal the brute-force rounded cosine of its
    (query_id, neighbor_id) pair, and ``rnk`` must follow (cos desc,
    neighbor_id asc) within each query. The recall tests compare only
    pair sets; this pins the scores and ranks the queries emit."""
    from full_data_infrastructure_spark.operators.similarity import N_QUERIES
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    emb = load_embeddings(spark, sf_dir)
    all_pairs = knn_bruteforce(
        emb, emb.filter(F.col("vec_id") < N_QUERIES), k=emb.count()
    )
    exact = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in all_pairs.collect()}
    for name in ("knn_lsh", "knn_ivf", "knn_pq", "knn_ivfpq"):
        rows = REGISTRY[name].build(spark, sf_dir).collect()
        assert rows, name
        per_query = {}
        for r in rows:
            assert r["cos"] == exact[(r["query_id"], r["neighbor_id"])], (name, r)
            per_query.setdefault(r["query_id"], []).append(r)
        for q, ranked in per_query.items():
            ranked.sort(key=lambda r: r["rnk"])
            assert [r["rnk"] for r in ranked] == list(range(1, len(ranked) + 1)), (
                name,
                q,
            )
            order = [(-r["cos"], r["neighbor_id"]) for r in ranked]
            assert order == sorted(order), (name, q)


def test_salted_join_matches_plain_join(spark, sf_dir):
    from full_data_infrastructure_spark.operators.joins import salted_join

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = orders.join(customer, "o_custkey").collect()
    salted = salted_join(orders, customer, "o_custkey", n_salts=8).collect()
    key = lambda r: (r["o_custkey"], r["o_orderkey"], r["c_mktsegment"])
    assert sorted(map(key, plain)) == sorted(map(key, salted))


def test_salted_join_left_outer(spark, sf_dir):
    from full_data_infrastructure_spark.operators.joins import salted_join

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # dim missing most keys => left join must preserve unmatched facts
    few = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 10).select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    out = salted_join(orders, few, "o_custkey", n_salts=4, how="left")
    assert out.count() == orders.count()


def test_lang_id_trigram_on_real_sentences(spark):
    import unittest.mock as mock

    import full_data_infrastructure_spark.operators.text as txt

    docs = spark.createDataFrame(
        [
            (1, "The quick brown fox is jumping over the lazy dog of the farm"),
            (2, "La casa de la se\u00f1ora tiene una habitaci\u00f3n muy grande"),
            (3, "le chat dort lentement dans la maison que les souris aiment"),
            (4, "Der Hund und die Katze sind schnell und einfach sch\u00f6n"),
            (5, "zzz qqq 123"),
        ],
        "doc_id bigint, text string",
    )
    with mock.patch.object(txt, "load_table", lambda *_: docs):
        preds = {
            r["doc_id"]: r["lang_pred"]
            for r in txt._lang_id_trigram(spark, "unused").collect()
        }
    assert preds == {1: "en", 2: "es", 3: "fr", 4: "de", 5: "und"}


@pytest.mark.parametrize("table", ["LANG_STOPWORDS", "LANG_TRIGRAMS"])
def test_lang_argmax_ties_and_no_signal(spark, table):
    """The Spark argmax Column and its DuckDB CASE pick the EARLIER
    language of a tie and 'und' when every score is 0, for both language
    tables."""
    import duckdb

    import full_data_infrastructure_spark.operators.text as txt

    langs = list(getattr(txt, table))
    assert langs == ["en", "es", "fr", "de"]
    cases = [
        ((2, 2, 0, 0), "en"),  # en ties es
        ((0, 3, 3, 1), "es"),  # es ties fr
        ((0, 0, 1, 1), "fr"),  # fr ties de
        ((4, 4, 4, 4), "en"),  # four-way tie
        ((1, 0, 2, 2), "fr"),  # tie on the top score only
        ((0, 0, 0, 0), "und"),  # no signal
        ((0, 0, 0, 5), "de"),
    ]
    cols = [f"score_{lang}" for lang in langs]
    rows = [(i, *scores) for i, (scores, _) in enumerate(cases)]
    expected = {i: want for i, (_, want) in enumerate(cases)}

    df = spark.createDataFrame(rows, ["i", *cols])
    got_spark = {
        r["i"]: r["p"]
        for r in df.select("i", txt.lang_argmax(langs).alias("p")).collect()
    }
    values = ", ".join(str(r) for r in rows)
    got_duck = dict(
        duckdb.connect()
        .execute(
            f"SELECT i, {txt.lang_argmax_sql(langs)} AS p "
            f"FROM (VALUES {values}) t(i, {', '.join(cols)})"
        )
        .fetchall()
    )
    assert got_spark == expected
    assert got_duck == expected


def test_approx_count_distinct_error_bound(spark, sf_dir):
    """The HLL estimate (rsd=0.01) must land within 5% of the exact
    distinct count per group — the bound that justifies using it as the
    100 TB path."""
    from pyspark.sql import functions as F

    from full_data_infrastructure_spark.sources.parquet import load_table

    lineitem = load_table(spark, sf_dir, "lineitem")
    both = lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    for r in both.collect():
        rel_err = abs(r["approx_parts"] - r["exact_parts"]) / r["exact_parts"]
        assert rel_err < 0.05, (r["l_returnflag"], r["approx_parts"], r["exact_parts"])


def test_simhash_banding_is_complete_for_hamming_bound(spark, sf_dir):
    """The 4 x 16-bit banding must find EVERY pair within the Hamming<=3
    bound (pigeonhole: 3 differing bits cannot touch all 4 bands), not
    just a sample — verified against brute-force all-pairs Hamming on the
    signature table."""
    from pyspark.sql import functions as F

    from full_data_infrastructure_spark.operators.dedup import (
        SIMHASH_MAX_HAMMING,
        simhash_dedup_pairs,
        simhash_signatures,
    )
    from full_data_infrastructure_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash_signatures(docs)
    a, b = sigs.alias("a"), sigs.alias("b")
    brute = {
        (r["doc_a"], r["doc_b"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .collect()
    }
    banded = {
        (r["doc_a"], r["doc_b"]) for r in simhash_dedup_pairs(docs).collect()
    }
    assert banded == brute  # complete AND nothing beyond the bound


def test_lsh_survivors_superset_of_exact_and_agree(spark):
    """dedup_survivors_lsh vs dedup_survivors at the driver's sf0.01.

    The verified LSH pair set is a subset of the exact pair set (the
    Jaccard verification guarantees precision; banding only loses edges),
    so LSH components REFINE exact components and each exact survivor —
    the minimum of its exact component — is still the minimum of its LSH
    sub-component. Superset is therefore a hard guarantee, not a
    statistic; agreement >= 0.95 bounds how many extra (missed-merge)
    survivors the sketch admits.
    """
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf_dir = "/root/testdata/sf0.01"
    exact = {
        r["doc_id"] for r in REGISTRY["dedup_survivors"].build(spark, sf_dir).collect()
    }
    lsh = {
        r["doc_id"]
        for r in REGISTRY["dedup_survivors_lsh"].build(spark, sf_dir).collect()
    }
    assert lsh >= exact, f"{len(exact - lsh)} exact survivors dropped by LSH"
    agreement = len(exact) / len(lsh)
    assert agreement >= 0.95, f"survivor agreement {agreement:.3f} < 0.95"


def test_incremental_lsh_subset_and_recall(spark):
    """dedup_incremental_lsh vs dedup_incremental at the driver's sf0.01.

    Verified pairs are exact-Jaccard-checked, so the LSH result is a
    SUBSET of the exact increment-vs-corpus pairs (precision 1 by
    construction); banding only loses candidates, and near-dup pairs at
    Jaccard >= 0.5 collide reliably (measured recall 1.0 at sf0.001 and
    sf0.01 — 0.85 is the floor with margin)."""
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf_dir = "/root/testdata/sf0.01"
    exact = {
        (r["new_doc_id"], r["dup_of"])
        for r in REGISTRY["dedup_incremental"].build(spark, sf_dir).collect()
    }
    lsh = {
        (r["new_doc_id"], r["dup_of"])
        for r in REGISTRY["dedup_incremental_lsh"].build(spark, sf_dir).collect()
    }
    assert lsh <= exact, f"{len(lsh - exact)} false-positive pairs"
    assert exact, "fixture regression: no incremental near-dup pairs at all"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.85, f"incremental LSH recall {recall:.2f}"
    # Recall must not be bought with a near-full scan (the same ceiling
    # the kNN tests carry): band-collision candidates stay a tiny
    # fraction of increment x corpus — measured 6e-4 / 2e-4 at
    # sf0.001 / sf0.01; 0.05 is the ceiling with margin.
    from full_data_infrastructure_spark.operators.dedup import (
        INCREMENT_MOD,
        _sig_sizes_from_hashed,
        banded_signatures,
        hashed_shingles,
    )
    from full_data_infrastructure_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = hashed_shingles(docs).persist()
    inc = F.col("doc_id") % INCREMENT_MOD == 0
    banded = banded_signatures(_sig_sizes_from_hashed(sh))
    n_cand = (
        banded.filter(inc)
        .select(F.col("doc_id").alias("new_doc_id"), "band_idx", "band_hash")
        .join(
            banded.filter(~inc).select(
                F.col("doc_id").alias("dup_of"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .select("new_doc_id", "dup_of")
        .distinct()
        .count()
    )
    n_new = docs.filter(inc).count()
    n_corpus = docs.filter(~inc).count()
    sh.unpersist()
    frac = n_cand / (n_new * n_corpus)
    assert frac <= 0.05, f"incremental LSH candidate fraction {frac:.4f}"


def test_corpus_pipeline_lsh_agrees_with_exact(spark):
    """corpus_pipeline_lsh vs corpus_pipeline at the driver's sf0.01.

    The LSH pipeline's SURVIVOR set is a strict superset of the exact
    pipeline's (the refinement argument tested on dedup_survivors_lsh),
    but mixture rates derive from per-lang survivor counts, so the extra
    LSH survivors can step a language's keep-rate down by a 1/256
    granule and drop a handful of boundary-hash docs the exact pipeline
    kept. The packed outputs therefore agree to >=95% Jaccard with only
    a small one-sided loss allowed, rather than strict superset —
    membership-level agreement, not bin assignment (extra survivors
    legitimately shift packing offsets)."""
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf_dir = "/root/testdata/sf0.01"
    exact = {
        r["doc_id"]
        for r in REGISTRY["corpus_pipeline"].build(spark, sf_dir).collect()
    }
    lsh = {
        r["doc_id"]
        for r in REGISTRY["corpus_pipeline_lsh"].build(spark, sf_dir).collect()
    }
    missing = len(exact - lsh)
    assert missing <= max(2, 0.02 * len(exact)), (
        f"{missing} exact-pipeline docs missing from LSH pipeline"
    )
    jaccard = len(exact & lsh) / len(exact | lsh)
    assert jaccard >= 0.95, f"packed-doc agreement {jaccard:.3f} < 0.95"


def test_span_removal_drops_shared_sentence_keeps_unique(spark):
    """Crafted corpus: two docs share an exact 5-token sentence, each has
    unique surrounding text. Every token of the shared span (and only
    tokens covered by cross-doc 3-grams) must vanish from both docs;
    a third doc with no cross-doc grams must pass through untouched."""
    from full_data_infrastructure_spark.operators.dedup import (
        _dedup_span_removal,
    )
    from full_data_infrastructure_spark.sources import parquet as P

    shared = "the quick brown fox jumps"
    rows = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"one two {shared} three four"),
        (3, "totally unique text with no overlap at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    orig_load = P.load_table
    try:
        # _dedup_span_removal loads via load_table(spark, sf_dir, name);
        # patch it to serve the crafted corpus.
        P.load_table = lambda s, d, n, fmt="parquet": docs
        import full_data_infrastructure_spark.operators.dedup as D

        orig_mod_load = D.load_table
        D.load_table = P.load_table
        try:
            out = {r["doc_id"]: r for r in _dedup_span_removal(spark, "ignored").collect()}
        finally:
            D.load_table = orig_mod_load
    finally:
        P.load_table = orig_load

    for tok in shared.split():
        assert tok not in out[1]["clean_text"].split(), tok
        assert tok not in out[2]["clean_text"].split(), tok
    # unique flanks survive (they sit outside every cross-doc 3-gram)
    assert "alpha" in out[1]["clean_text"] and "four" in out[2]["clean_text"]
    assert out[3]["clean_text"] == rows[2][1]
    assert out[3]["n_removed"] == 0
    assert out[1]["n_removed"] == 5 and out[2]["n_removed"] == 5


def test_exact_jaccard_max_df_guard(spark):
    """Hot-shingle guard: a stopword-like sentence shared by EVERY filler
    doc makes the unguarded shingle self-join quadratic in the corpus
    (hundreds of boilerplate-only pairs from one hot bucket); max_df
    drops those shingles from the universe, so the boilerplate pairs
    vanish while a planted near-dup pair — whose overlap is genuine,
    low-df text — survives with its Jaccard over the filtered space."""
    hot = "the of and a to in is"
    rows = []
    for i in range(40):
        uniq = f"doc{i} alpha{i} beta{i} gamma{i} delta{i} eps{i}"
        rows.append((i, uniq + " " + hot))
    shared = "zebra quokka lemur okapi gibbon tapir numbat wombat dugong"
    rows.append((100, shared + " onlyx"))
    rows.append((101, shared + " onlyy"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    # Unguarded: the hot sentence alone pairs every filler doc with every
    # other (5 shared hot grams / 17-gram union = 0.29 >= 0.25).
    unguarded = {
        (r["doc_a"], r["doc_b"])
        for r in exact_jaccard_pairs(docs, 0.25).collect()
    }
    assert len(unguarded) > 700, len(unguarded)

    # Guarded: hot grams have df=40 > 10 and are dropped; filler docs
    # retain only unique grams -> no pairs. The planted pair's shared
    # grams have df=2 -> kept (7 shared / 9-gram union = 0.78).
    guarded = {
        (r["doc_a"], r["doc_b"])
        for r in exact_jaccard_pairs(docs, 0.25, max_df=10).collect()
    }
    assert guarded == {(100, 101)}, guarded


def test_semantic_dedup_drops_planted_cliques(spark):
    """SemDeDup semantics on a crafted corpus: three well-separated
    direction clusters, each holding a duplicate clique (cosine ~1 within,
    ~0 across); exactly one member per clique survives, singletons all
    survive, and the survivor is the clique member FARTHEST from its
    centroid (min keep-rank) per the paper's keep-edge-examples policy."""
    from full_data_infrastructure_spark.functions.vector import l2_norm
    from full_data_infrastructure_spark.operators.dedup import (
        semantic_dedup_flags,
    )

    dim = 8

    def vec(axis, eps_axis=None, eps=0.0):
        v = [0.0] * dim
        v[axis] = 1.0
        if eps_axis is not None:
            v[eps_axis] = eps
        return v

    rows = []
    # Clique on axis 0: ids 0,1,2 (cos >= 0.999 pairwise).
    for i, e in enumerate((0.0, 0.01, 0.02)):
        rows.append((i, vec(0, 3, e)))
    # Clique on axis 1: ids 3,4.
    rows.append((3, vec(1)))
    rows.append((4, vec(1, 4, 0.015)))
    # Singletons on axis 2 — similar to nothing above threshold.
    rows.append((5, vec(2)))
    rows.append((6, vec(2, 5, 0.9)))  # cos(5,6) ~ 0.74 < 0.95
    emb = spark.createDataFrame(rows, ["vec_id", "e"]).select(
        "vec_id",
        F.col("e").cast("array<double>").alias("e"),
    )
    emb = emb.select("vec_id", "e", l2_norm(F.col("e")).alias("nrm"))
    # n_cells=2 -> stride max(7//2,1)=3: centroids vec 0 (axis 0) and
    # vec 3 (axis 1); axis-2 singletons land in whichever is nearest.
    flags = {
        r["vec_id"]: r for r in semantic_dedup_flags(emb, n_cells=2).collect()
    }
    assert len(flags) == 7
    kept_clique0 = [i for i in (0, 1, 2) if flags[i]["kept"] == 1]
    kept_clique1 = [i for i in (3, 4) if flags[i]["kept"] == 1]
    assert len(kept_clique0) == 1
    assert len(kept_clique1) == 1
    assert flags[5]["kept"] == 1 and flags[6]["kept"] == 1
    # The survivor is its clique's farthest-from-centroid member: id 2
    # carries the largest off-axis eps in clique 0 (centroid IS vec 0),
    # id 4 in clique 1 (centroid IS vec 3).
    assert kept_clique0 == [2]
    assert kept_clique1 == [4]


def test_cosine_histogram_candidate_twin_agrees(spark, sf_dir):
    """The threshold-calibration histogram's documented scale path is the
    candidate-pair twin (VERDICT r6 item 3): the SAME buckets computed
    over SemDeDup within-cell pairs instead of the all-pairs theta join.
    Pins three facts:

    1. real data: per-bucket candidate counts never exceed exact counts
       (candidate pairs are a subset of all pairs on ANY input);
    2. planted cliques: the knee region — every bucket >= 0.70 — has
       FULL recall (near-duplicates co-locate in a cell), so the
       threshold decision the histogram exists for reads the same knee;
    3. the blocking genuinely prunes: a planted CROSS-cell mid-similarity
       pair is (correctly) missing from the candidate histogram.
    """
    from full_data_infrastructure_spark.functions.vector import l2_norm
    from full_data_infrastructure_spark.operators.dedup import (
        cosine_histogram_exact,
        cosine_histogram_over_candidates,
    )

    # --- real embeddings: subset property -------------------------------
    withn = load_embeddings(spark, sf_dir)
    exact = {
        r["bucket"]: r["n_pairs"]
        for r in cosine_histogram_exact(withn).collect()
    }
    cand = {
        r["bucket"]: r["n_pairs"]
        for r in cosine_histogram_over_candidates(withn).collect()
    }
    for bucket, n in cand.items():
        assert n <= exact.get(bucket, 0), (
            f"candidate bucket {bucket} has {n} pairs vs exact "
            f"{exact.get(bucket, 0)} — candidates must be a pair subset"
        )

    # --- planted corpus: knee recall + genuine pruning ------------------
    dim = 8

    def vec(axis, scale=1.0, extra=None):
        v = [0.0] * dim
        v[axis] = scale
        if extra is not None:
            for ax, s in extra:
                v[ax] = s
        return v

    rows = [
        # Clique on axis 0 (ids 0-2, pairwise cos ~1 -> top bucket).
        (0, vec(0)),
        (1, vec(0, extra=[(3, 0.01)])),
        (2, vec(0, extra=[(3, 0.02)])),
        # Clique on axis 1 (ids 3-4).
        (3, vec(1)),
        (4, vec(1, extra=[(4, 0.015)])),
        # Mid-similarity WITHIN-cell pair: ids 5-6 (cos ~0.743, bucket 14).
        (5, vec(2)),
        (6, vec(2, extra=[(5, 0.9)])),
        # CROSS-cell mid pair: id 7 is 0.8*axis0 + 0.6*axis1 -> assigned
        # to cell 0 (cos 0.8 > 0.6) so (7, 3) with cos 0.6 spans cells.
        (7, vec(0, scale=0.8, extra=[(1, 0.6)])),
    ]
    emb2 = spark.createDataFrame(rows, ["vec_id", "e"]).select(
        "vec_id", F.col("e").cast("array<double>").alias("e")
    )
    emb2 = emb2.select("vec_id", "e", l2_norm(F.col("e")).alias("nrm"))
    # stride = max(8//2, 1) = 4 -> centroids are ids 0 (axis 0) and
    # 4 (~axis 1), one per planted direction cluster.
    exact2 = {
        r["bucket"]: r["n_pairs"]
        for r in cosine_histogram_exact(emb2).collect()
    }
    cand2 = {
        r["bucket"]: r["n_pairs"]
        for r in cosine_histogram_over_candidates(emb2, n_cells=2).collect()
    }
    # Knee region (>= 0.70, buckets 14+): full recall — the calibration
    # decision reads the same knee from either histogram.
    for bucket, n in exact2.items():
        if bucket >= 14:
            assert cand2.get(bucket, 0) == n, (
                f"knee bucket {bucket}: candidate twin lost pairs "
                f"({cand2.get(bucket, 0)} vs {n})"
            )
        else:
            assert cand2.get(bucket, 0) <= n
    # The cross-cell (7, 3) pair (cos 0.6 -> bucket 12) is pruned: the
    # twin did strictly less work, not a disguised all-pairs scan.
    assert exact2.get(12, 0) == 1
    assert cand2.get(12, 0) == 0


def test_semantic_dedup_comparison_volume_bounded(spark, sf_dir):
    """The clustering must actually prune the pairwise work: within-cell
    comparison volume (sum of |cell|*(|cell|-1)/2) stays under 25% of the
    brute-force n*(n-1)/2 on the real embeddings table — recall cannot
    have been bought with a near-complete scan."""
    from full_data_infrastructure_spark.operators.dedup import SEM_CELLS
    from full_data_infrastructure_spark.operators.similarity import (
        ivf_assignments,
        stride_centroids,
    )

    emb = load_embeddings(spark, sf_dir)
    n = emb.count()
    cents = stride_centroids(emb, SEM_CELLS)
    sizes = (
        ivf_assignments(emb, cents, n_best=1)
        .groupBy("cell_id")
        .count()
        .collect()
    )
    assert len(sizes) <= SEM_CELLS
    pairwise = sum(r["count"] * (r["count"] - 1) // 2 for r in sizes)
    brute = n * (n - 1) // 2
    assert pairwise <= 0.25 * brute, (
        f"within-cell comparisons {pairwise} vs brute {brute}"
    )


def test_knn_pq_recall_and_compression(spark, sf_dir):
    """PQ ANN: recall@5 vs brute force above per-SF floors (measured
    0.94 / 0.99 / 0.80 at sf0.001 / 0.01 / 0.1 — near-uniform random
    vectors are PQ's worst case, no cluster structure to quantize), the
    ADC shortlist bounded to a fraction of the corpus (recall must not
    be bought with a near-full rerank), and the code table actually
    compressed: one 6-bit code per (vector, subspace)."""
    from full_data_infrastructure_spark.operators.similarity import (
        N_QUERIES,
        PQ_CODES,
        PQ_M,
        PQ_RERANK,
        _subvectors,
        pq_codebook,
        pq_encode,
    )
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    brute = REGISTRY["knn_bruteforce"].build(spark, sf_dir).collect()
    pq = REGISTRY["knn_pq"].build(spark, sf_dir).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in brute}
    approx = {(r["query_id"], r["neighbor_id"]) for r in pq}
    recall = len(truth & approx) / len(truth)
    floor = 0.85 if not sf_dir.rstrip("/").endswith("0.1") else 0.75
    assert recall >= floor, f"knn_pq recall {recall:.2f} < {floor}"

    emb = load_embeddings(spark, sf_dir)
    n_corpus = emb.count()
    # Shortlist fraction: PQ_RERANK of the corpus per query, by construction.
    assert PQ_RERANK / n_corpus <= 0.25, "ADC shortlist is a near-full scan"

    en = emb.select(
        "vec_id", F.transform("e", lambda x: x / F.col("nrm")).alias("en")
    )
    subs = _subvectors(en)
    codes = pq_encode(subs, pq_codebook(subs)).collect()
    assert len(codes) == n_corpus * PQ_M
    assert all(0 <= r["code"] < PQ_CODES for r in codes)


def test_knn_ivfpq_recall(spark, sf_dir):
    """The IVF x PQ composition loses recall from BOTH approximations
    (cell pruning + code quantization); floors sit under the measured
    0.84 / 0.84 / 0.75 at sf0.001 / 0.01 / 0.1 — bounded above by
    knn_ivf's own ceiling — and the shortlist is PQ_RERANK rows per
    query by construction."""
    from full_data_infrastructure_spark.operators.similarity import (
        PQ_RERANK,
        TOP_K,
    )
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    brute = REGISTRY["knn_bruteforce"].build(spark, sf_dir).collect()
    got_rows = REGISTRY["knn_ivfpq"].build(spark, sf_dir).collect()
    truth = {(r["query_id"], r["neighbor_id"]) for r in brute}
    got = {(r["query_id"], r["neighbor_id"]) for r in got_rows}
    recall = len(truth & got) / len(truth)
    floor = 0.70 if sf_dir.rstrip("/").endswith("0.1") else 0.80
    assert recall >= floor, f"knn_ivfpq recall {recall:.2f} < {floor}"
    per_q = {}
    for q, _ in got:
        per_q[q] = per_q.get(q, 0) + 1
    assert all(v <= TOP_K for v in per_q.values())
    assert PQ_RERANK <= 80

    # Candidate-fraction ceiling (the knn_lsh/knn_ivf gate, applied to the
    # composition — the 100 TB layout should carry the tightest bound):
    # the probed-cell candidate set the ADC stage scores must stay under
    # 0.70 of all query x corpus pairs, so recall is never bought with a
    # near-full compressed scan.
    from full_data_infrastructure_spark.operators.similarity import (
        N_QUERIES,
        ivf_candidates,
    )

    emb = load_embeddings(spark, sf_dir).filter(F.col("nrm") > 0)
    n_corpus = emb.count()
    n_cand = ivf_candidates(emb).count()
    frac = n_cand / (N_QUERIES * (n_corpus - 1))
    assert frac <= 0.70, f"IVFPQ probed-cell fraction {frac:.2f} > 0.70"


def test_hard_negatives_shortlist_twin_agrees(spark, sf_dir):
    """The exact hard-negative miner's scale path as code: mining over
    the knn_ivfpq shortlist + label-mismatch filter must cover EVERY
    anchor and agree with the exact anchor x corpus pass — measured
    top-1 agreement 0.95/0.90/0.90 at sf0.001/0.01/0.1, and every
    disagreement is a near-tie (sketch negative within 0.05 cosine of
    the exact one: a negative that moves a contrastive loss almost
    identically)."""
    from full_data_infrastructure_spark.operators.similarity import (
        hard_negatives_over_shortlist,
    )
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    exact = {
        r["anchor_id"]: r
        for r in REGISTRY["hard_negative_mining"].build(spark, sf_dir).collect()
    }
    emb = load_embeddings(spark, sf_dir, "label").filter(F.col("nrm") > 0)
    sketch = {
        r["anchor_id"]: r for r in hard_negatives_over_shortlist(emb).collect()
    }
    assert set(sketch) == set(exact), "an anchor lost its negative entirely"
    n = len(exact)
    top1 = sum(
        1 for a in exact if sketch[a]["negative_id"] == exact[a]["negative_id"]
    )
    near = sum(1 for a in exact if sketch[a]["cos"] >= exact[a]["cos"] - 0.05)
    assert top1 / n >= 0.80, f"shortlist top-1 agreement {top1 / n:.2f} < 0.80"
    assert near / n >= 0.90, f"near-tie coverage {near / n:.2f} < 0.90"


def test_label_consistency_shortlist_twin_agrees(spark, sf_dir):
    """knn_label_consistency's corpus-scale sweep as code: voting over
    the exact-reranked knn_ivfpq shortlist must cover every query and
    reproduce the QA VERDICT (consistent true/false — the column a
    labeling-QA pass actually consumes) for >= 0.75 of queries
    (measured 0.95/1.0/0.80 at sf0.001/0.01/0.1).  The predicted-label
    IDENTITY is deliberately not pinned tightly: on near-uniform
    synthetic embeddings the top-5 vote is tie-heavy (random labels, ~1
    vote each), so a single shortlist-vs-exact neighbor swap flips the
    plurality label while the consistent verdict is far more stable."""
    from full_data_infrastructure_spark.operators.similarity import (
        label_consistency_over_shortlist,
    )
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    exact = {
        r["query_id"]: r
        for r in REGISTRY["knn_label_consistency"].build(spark, sf_dir).collect()
    }
    emb = load_embeddings(spark, sf_dir, "label").filter(F.col("nrm") > 0)
    twin = {
        r["query_id"]: r
        for r in label_consistency_over_shortlist(emb).collect()
    }
    assert set(twin) == set(exact), "a query lost its verdict entirely"
    n = len(exact)
    verdict = sum(
        1 for q in exact if twin[q]["consistent"] == exact[q]["consistent"]
    )
    assert verdict / n >= 0.75, f"verdict agreement {verdict / n:.2f} < 0.75"


def test_lsh_survivors_invariant_to_exact_collapse(spark, near_dup_docs):
    """collapse_exact=True must not change the survivor set, only the
    work: the near_dup_docs fixture plants byte-identical copies
    (doc_id+200000), which carry identical MinHash signatures and are the
    LSH band buckets' hot-key skew at scale. The fingerprint collapse
    removes them before shingling; a full cluster's min id equals the min
    over its exact-groups' min ids, so the merged loser sets agree
    exactly."""
    from full_data_infrastructure_spark.operators.dedup import (
        collapse_exact_duplicates,
        lsh_survivor_losers,
    )

    plain = {r["doc_id"] for r in lsh_survivor_losers(near_dup_docs).collect()}
    collapsed = {
        r["doc_id"]
        for r in lsh_survivor_losers(near_dup_docs, collapse_exact=True).collect()
    }
    assert plain == collapsed
    assert plain, "fixture should produce losers"
    # The collapse actually shrank the MinHash input.
    canon, losers = collapse_exact_duplicates(near_dup_docs)
    n_all = near_dup_docs.count()
    assert canon.count() < n_all
    assert canon.count() + losers.count() == n_all


def test_kmeans_refinement_improves_objective(spark, sf_dir):
    """Lloyd's guarantee, observed: mean cosine-to-assigned-centroid after
    the refinement rounds is at least the seed assignment's (equality
    only possible if the seeds were already stationary)."""
    from full_data_infrastructure_spark.operators.similarity import (
        KMEANS_K,
        kmeans_assign,
        stride_centroids,
    )
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    emb = load_embeddings(spark, sf_dir).filter(F.col("nrm") > 0)
    seeds = stride_centroids(emb, KMEANS_K)
    seed_obj = (
        kmeans_assign(emb, seeds).agg(F.avg("cos").alias("o")).first()["o"]
    )
    final = REGISTRY["embedding_kmeans"].build(spark, sf_dir)
    final_obj = final.agg(F.avg("cos").alias("o")).first()["o"]
    assert final_obj >= seed_obj - 1e-9, (seed_obj, final_obj)
    n_clusters = final.select("cluster_id").distinct().count()
    assert 1 <= n_clusters <= KMEANS_K


class TestHeavyHitters:
    """Misra-Gries two-pass heavy hitters: superset guarantee under forced
    pruning, bounded candidate volume, exactness of the final result."""

    @pytest.fixture(scope="class")
    def zipf_keys(self, spark):
        """A deterministic Zipf-ish stream: key i appears ~1000/i times
        (400+ distinct keys, ~6000 rows) across 8 partitions — far more
        distinct keys than the sketch's counters, so the MG prune path
        (subtract the (k+1)-th largest, drop non-positive) is exercised
        on every batch, unlike the 31-token synthetic corpus."""
        rows = [(f"k{i:04d}",) for i in range(1, 420) for _ in range(1000 // i)]
        return spark.createDataFrame(rows, "key string").repartition(8)

    def test_candidates_are_superset_and_bounded(self, spark, zipf_keys):
        from full_data_infrastructure_spark.operators.aggregates import (
            heavy_hitter_candidates,
        )

        k = 16
        cands = heavy_hitter_candidates(zipf_keys, "key", k).collect()
        markers = [r for r in cands if r.key is None]
        keys = {r.key for r in cands if r.key is not None}
        total = sum(r.w for r in markers)
        n_parts = zipf_keys.rdd.getNumPartitions()
        assert total == zipf_keys.count()
        # prune actually ran: far fewer candidates than distinct keys,
        # and never more than partitions x k
        assert len(keys) <= n_parts * k
        assert len(keys) < 419
        # superset guarantee: every key with count > N/(k+1) is present
        exact = {
            r.key: r.cnt
            for r in zipf_keys.groupBy("key")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        must_have = {key for key, c in exact.items() if c * (k + 1) > total}
        assert must_have <= keys, must_have - keys

    def test_result_is_exact(self, spark, zipf_keys):
        from full_data_infrastructure_spark.operators.aggregates import (
            heavy_hitters,
        )

        got = heavy_hitters(
            zipf_keys, "key", support_num=2, support_den=100, k=99
        ).collect()
        total = zipf_keys.count()
        exact = sorted(
            (
                (r.key, r.cnt)
                for r in zipf_keys.groupBy("key")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
                if r.cnt * 100 >= 2 * total
            ),
            key=lambda t: (-t[1], t[0]),
        )
        assert [(r.key, r.cnt) for r in got] == exact

    def test_support_below_guarantee_rejected(self, spark, zipf_keys):
        from full_data_infrastructure_spark.operators.aggregates import (
            heavy_hitters,
        )

        with pytest.raises(ValueError, match="Misra-Gries"):
            heavy_hitters(zipf_keys, "key", support_num=1, support_den=1000, k=99)


class TestEmbeddingPCA:
    """Distributed PCA: the map-only sufficient-statistics sketch must
    reproduce numpy PCA on the same data exactly (up to the shared sign
    canonicalization), with orthonormal components and descending
    explained variance."""

    @pytest.fixture(scope="class")
    def emb(self, spark, sf_dir):
        return load_embeddings(spark, sf_dir)

    def test_components_match_numpy_pca(self, spark, sf_dir, emb):
        import numpy as np

        from full_data_infrastructure_spark.operators.similarity import (
            PCA_K,
            pca_components,
        )

        comps, evals, mean = pca_components(emb)
        x = np.vstack([r.e for r in emb.collect()]).astype(np.float64)
        want_mean = x.mean(axis=0)
        assert np.allclose(mean, want_mean, atol=1e-9)
        cov = np.cov(x, rowvar=False, bias=True)
        w, v = np.linalg.eigh(cov)
        order = np.argsort(w)[::-1][:PCA_K]
        want = v[:, order].T
        flip = np.sign(want[np.arange(PCA_K), np.abs(want).argmax(axis=1)])
        want = want * flip[:, None]
        assert np.allclose(evals, w[order], atol=1e-8)
        assert np.allclose(comps, want, atol=1e-6)
        # orthonormal, variance descending
        assert np.allclose(comps @ comps.T, np.eye(PCA_K), atol=1e-8)
        assert all(evals[i] >= evals[i + 1] - 1e-12 for i in range(PCA_K - 1))

    def test_projection_captures_top_variance(self, spark, sf_dir, emb):
        """The k retained coordinates' total variance must equal the top-k
        eigenvalue sum (the optimal k-dim linear compression) — asserted
        against the driver query output itself."""
        import numpy as np

        from full_data_infrastructure_spark.operators.similarity import (
            _embedding_pca_project,
            pca_components,
        )

        _comps, evals, _mean = pca_components(emb)
        rows = _embedding_pca_project(spark, sf_dir).collect()
        coords = np.array([[r[f"pc{i}"] for i in range(len(evals))] for r in rows])
        got_var = coords.var(axis=0, ddof=0)
        assert np.allclose(got_var, evals, atol=1e-3)  # pc values rounded to 4dp


def test_corpus_pipeline_full_lsh_agrees_with_exact(spark):
    """corpus_pipeline_full_lsh vs corpus_pipeline_full at the driver's
    sf0.01 — the same membership-agreement contract as the plain
    pipeline pair: the quality/decontamination stages are IDENTICAL
    (deterministic, shared code), so any divergence comes from the LSH
    survivor superset shifting mixture granules."""
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    sf_dir = "/root/testdata/sf0.01"
    exact = {
        r["doc_id"]
        for r in REGISTRY["corpus_pipeline_full"].build(spark, sf_dir).collect()
    }
    lsh = {
        r["doc_id"]
        for r in REGISTRY["corpus_pipeline_full_lsh"].build(spark, sf_dir).collect()
    }
    missing = len(exact - lsh)
    assert missing <= max(2, 0.02 * len(exact)), (
        f"{missing} exact-pipeline docs missing from LSH pipeline"
    )
    jaccard = len(exact & lsh) / len(exact | lsh)
    assert jaccard >= 0.95, f"packed-doc agreement {jaccard:.3f} < 0.95"


def test_qc_keep_col_matches_classifier_scores(spark, sf_dir):
    """The scan-local keep predicate (JVM aggregate fold, no shuffle) must
    select EXACTLY the doc_ids the oracle-checked classifier keeps — the
    equivalence corpus_pipeline_full's zero-shuffle filter rests on."""
    from full_data_infrastructure_spark.operators.text import (
        qc_keep_col,
        quality_classifier_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    via_scores = {
        r.doc_id
        for r in quality_classifier_scores(docs)
        .filter(F.col("keep") == 1)
        .select("doc_id")
        .collect()
    }
    via_col = {
        r.doc_id
        for r in docs.filter(qc_keep_col(F.col("text"))).select("doc_id").collect()
    }
    assert via_col == via_scores


class TestBpeLearn:
    def test_rank0_equals_pair_counts_argmax(self, spark, sf_dir):
        """The first learned merge must be exactly the argmax of the
        oracle-checked bpe_pair_counts (same tiebreak; the top-4096 word
        truncation is a no-op on the synthetic corpus, so the two
        surfaces see identical pair counts)."""
        from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

        _ensure_loaded()
        top = REGISTRY["bpe_pair_counts"].build(spark, sf_dir).first()
        merges = REGISTRY["bpe_learn"].build(spark, sf_dir).orderBy("rank").collect()
        assert merges[0]["left"] + merges[0]["right"] == top["pair"]
        assert merges[0]["pair_count"] == top["cnt"]

    def test_greedy_counts_non_increasing_and_deterministic(self, spark, sf_dir):
        """Greedy invariant: each merge is the global pair-count argmax of
        its round, and merging can only create pairs bounded by the
        merged pair's own count — so counts are non-increasing in rank.
        And the rules must be bit-identical under any partitioning."""
        from full_data_infrastructure_spark.operators.text import bpe_learn_merges
        from full_data_infrastructure_spark.sources.parquet import load_table

        docs = load_table(spark, sf_dir, "documents")
        merges = bpe_learn_merges(docs)
        assert len(merges) >= 4
        counts = [m[3] for m in merges]
        assert all(a >= b for a, b in zip(counts, counts[1:])), counts
        again = bpe_learn_merges(docs.repartition(7))
        assert again == merges


def test_bpe_apply_matches_fixpoint_reference(spark, sf_dir):
    """bpe_tokenize_counts vs an INDEPENDENT reference encoder: the
    reference applies each merge rule in rank order to a space-joined
    symbol string via repeated boundary-safe replacement until fixpoint
    (a different formulation than the operator's leftmost-lowest-rank
    pairwise loop) — agreement across 100 docs pins the semantics, and
    counts must be <= the whitespace+char count and >= the word count."""
    from full_data_infrastructure_spark.operators.text import (
        bpe_learn_merges,
    )
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded
    from full_data_infrastructure_spark.sources.parquet import load_table

    _ensure_loaded()
    docs = load_table(spark, sf_dir, "documents")
    merges = [(l, r) for _k, l, r, _c in bpe_learn_merges(docs)]

    def ref_encode(word: str) -> int:
        s = " " + " ".join(word) + " "
        for l, r in merges:  # rank order
            pat, rep = f" {l} {r} ", f" {l}{r} "
            while pat in s:
                s = s.replace(pat, rep)
        return len(s.split())

    got = {
        r.doc_id: r.n_bpe_tokens
        for r in REGISTRY["bpe_tokenize_counts"].build(spark, sf_dir).collect()
    }
    sample = docs.select("doc_id", "text").limit(100).collect()
    for row in sample:
        words = row.text.lower().split()
        want = sum(ref_encode(w) for w in words)
        assert got[row.doc_id] == want, (row.doc_id, got[row.doc_id], want)
        assert len(words) <= got[row.doc_id] <= sum(len(w) for w in words)


def test_bpe_apply_and_pca_null_tolerance(spark):
    """NULL text must null-propagate through the BPE apply (not crash the
    Python worker), and NULL embeddings must be dropped by the PCA
    sketch (they carry no statistics)."""
    import numpy as np

    from full_data_infrastructure_spark.operators.similarity import (
        gram_partials,
    )
    from full_data_infrastructure_spark.operators.text import bpe_apply_counts

    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, None), (3, "aa")], "doc_id long, text string"
    )
    rows = {r.doc_id: r.n_bpe_tokens for r in bpe_apply_counts(docs, []).collect()}
    assert rows[2] is None and rows[1] == 4 and rows[3] == 2

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [3.0, 4.0])],
        "vec_id long, e array<double>",
    )
    parts = gram_partials(emb).collect()
    assert sum(r.n for r in parts) == 2  # nulls dropped, not counted
    s = np.sum([np.asarray(r.s) for r in parts], axis=0)
    assert list(s) == [4.0, 6.0]


def test_scd2_history_invariants(spark, sf_dir):
    """SCD2 semantics beyond the oracle hash: per user the version rows
    must tile the history — contiguous version numbers, each valid_to
    equal to the NEXT valid_from (half-open intervals, no gap/overlap),
    exactly one open (is_current) interval, and no two consecutive
    versions with the same state (no-op changes compressed away)."""
    from collections import defaultdict

    from full_data_infrastructure_spark import queries as registry

    registry._ensure_loaded()
    rows = registry.REGISTRY["scd2_history"].build(spark, sf_dir).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    assert by_user, "no users"
    for user, versions in by_user.items():
        versions.sort(key=lambda r: r.version)
        assert [r.version for r in versions] == list(range(1, len(versions) + 1))
        assert sum(r.is_current for r in versions) == 1
        assert versions[-1].is_current and versions[-1].valid_to is None
        for prev, nxt in zip(versions, versions[1:]):
            assert prev.valid_to == nxt.valid_from, f"gap/overlap for {user}"
            assert prev.state != nxt.state, f"uncompressed no-op for {user}"


def test_gapfill_locf_dense_grid_and_carry(spark, sf_dir):
    """Gapfill semantics beyond the oracle hash: the output is the full
    dense (event_type x hour) grid; within each key, value_locf is NULL
    only before the first observation and, on every unobserved hour
    after it, equals the most recent observed hour's value."""
    from collections import defaultdict

    from full_data_infrastructure_spark import queries as registry

    registry._ensure_loaded()
    rows = registry.REGISTRY["gapfill_locf"].build(spark, sf_dir).collect()
    by_key = defaultdict(list)
    for r in rows:
        by_key[r.event_type].append(r)
    hours = {len(v) for v in by_key.values()}
    assert len(hours) == 1, "keys cover different grid sizes"
    n_hours = hours.pop()
    assert len(rows) == n_hours * len(by_key)
    for key, series in by_key.items():
        series.sort(key=lambda r: r.bucket)
        # buckets are unique and hourly-contiguous
        assert len({r.bucket for r in series}) == n_hours
        carried = None
        for r in series:
            if r.observed:
                assert r.value_locf is not None
                carried = r.value_locf
            else:
                assert r.value_locf == carried, f"bad carry for {key} @ {r.bucket}"


def test_count_triangles_known_graphs(spark):
    """The degree-oriented triangle kernel on graphs with known answers,
    including the hub shape the orientation exists for: a star has many
    wedges at the hub under naive orientation but zero triangles; K4 has
    exactly 4; a hub-plus-rim wheel has exactly its rim count."""
    from full_data_infrastructure_spark.operators.joins import count_triangles

    def run(edges):
        canon = [(min(u, v), max(u, v)) for u, v in edges]
        df = spark.createDataFrame(sorted(set(canon)), "u long, v long")
        row = count_triangles(df).collect()[0]
        return row.n_edges, row.n_triangles

    # star K1,5: hub 0 touches everything, no closures
    assert run([(0, i) for i in range(1, 6)]) == (5, 0)
    # K4: C(4,3) = 4 triangles
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert run(k4) == (6, 4)
    # wheel: hub 9 + 5-cycle rim -> one triangle per rim edge
    rim = [(i, (i + 1) % 5) for i in range(5)]
    assert run(rim + [(9, i) for i in range(5)]) == (10, 5)


def test_scd2_apply_batch_sparse_and_new_users(spark):
    """The incremental fold on a batch touching a strict user subset
    (empty at testdata SFs where everyone is active): untouched users'
    versions pass through bit-identical, a touched user recompresses
    across the boundary (including a no-op boundary change that must
    merge into the standing version), a brand-new user appears — and
    the whole result equals the full-history rebuild."""
    import datetime as dt

    from full_data_infrastructure_spark.operators.windows import (
        scd2_apply_batch,
        scd2_finalize,
        scd2_versions,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(uid, eid, hours, typ):
        return (uid, typ, t0 + dt.timedelta(hours=hours), eid)

    schema = "user_id long, event_type string, ts timestamp, event_id long"
    old = [
        ev(1, 10, 0, "a"), ev(1, 11, 1, "b"),          # untouched
        ev(2, 20, 0, "a"),                              # untouched
        ev(3, 30, 0, "a"), ev(3, 31, 2, "b"),          # touched
    ]
    new = [
        ev(3, 32, 5, "b"),   # no-op at the boundary: must NOT add a version
        ev(3, 33, 6, "c"),   # real transition
        ev(4, 40, 5, "x"),   # brand-new user
    ]
    standing = scd2_versions(spark.createDataFrame(old, schema))
    batch = spark.createDataFrame(new, schema)
    folded = scd2_finalize(scd2_apply_batch(standing, batch)).collect()
    full = scd2_finalize(
        scd2_versions(spark.createDataFrame(old + new, schema))
    ).collect()
    key = lambda r: (r.user_id, r.version)
    assert sorted(map(tuple, folded), key=lambda t: (t[0], t[5])) == sorted(
        map(tuple, full), key=lambda t: (t[0], t[5])
    )
    by_user = {}
    for r in folded:
        by_user.setdefault(r.user_id, []).append(r)
    assert [r.state for r in sorted(by_user[3], key=key)] == ["a", "b", "c"]
    assert [r.state for r in sorted(by_user[4], key=key)] == ["x"]
    # untouched users identical to their standing finalize
    standing_rows = [
        tuple(r)
        for r in scd2_finalize(standing).collect()
        if r.user_id in (1, 2)
    ]
    folded_rows = [tuple(r) for r in folded if r.user_id in (1, 2)]
    assert sorted(standing_rows) == sorted(folded_rows)


def test_jsonl_permissive_quarantine(spark, sf_dir):
    """The dead-letter side of the quarantine ingest: PERMISSIVE mode
    with columnNameOfCorruptRecord must route every corrupted line —
    and only those — to the quarantine with its RAW line preserved for
    replay, while clean rows parse fully. Exercises Spark's documented
    gotcha that filtering on the corrupt column requires materializing
    the parse first (tracked_persist here)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from full_data_infrastructure_spark.cache import (
        release_persisted,
        tracked_persist,
    )
    from full_data_infrastructure_spark.streaming.replay import replay_workdir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    payload = F.to_json(F.struct("doc_id", "text", "lang", "source", "n_chars"))
    lines = docs.select(
        F.when(
            F.col("doc_id") % 50 == 0,
            F.concat(F.lit('{"truncated'), F.substring(payload, 1, 20)),
        )
        .otherwise(payload)
        .alias("value")
    )
    work = replay_workdir("jsonl_quarantine_test_")
    path = os.path.join(work, "jsonl")
    lines.write.mode("overwrite").text(path)

    schema = docs.schema.add("_corrupt", StringType())
    parsed = tracked_persist(
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    try:
        n_docs = docs.count()
        n_bad_expected = docs.filter(F.col("doc_id") % 50 == 0).count()
        quarantine = parsed.filter(F.col("_corrupt").isNotNull())
        good = parsed.filter(F.col("_corrupt").isNull())
        assert quarantine.count() == n_bad_expected > 0
        assert good.count() == n_docs - n_bad_expected
        # raw lines are preserved verbatim for replay/debugging
        assert all(
            r._corrupt.startswith('{"truncated')
            for r in quarantine.select("_corrupt").collect()
        )
        # clean rows parse fully: no nulled-out fields
        assert good.filter(F.col("doc_id").isNull()).count() == 0
    finally:
        release_persisted()


def test_jsonl_dead_letter_replay_reconstructs_corpus(spark, sf_dir):
    """The other half of the quarantine pattern a real user needs (the
    reference's V4 fail-on-invalid semantics, but with RECOVERY instead
    of failure): after ingest quarantines schema-drifted lines (upstream
    started writing doc_id as a JSON string), a schema-fixed re-parse of
    the preserved raw lines must recover them byte-exact, and
    good UNION replayed must reconstruct the original corpus exactly —
    the dead-letter table is a recovery queue, not a graveyard."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from full_data_infrastructure_spark.cache import (
        release_persisted,
        tracked_persist,
    )
    from full_data_infrastructure_spark.streaming.replay import replay_workdir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # Upstream schema drift on every doc_id % 50 == 0 line: doc_id
    # serialized as a JSON string. Still valid JSON — just not OUR schema.
    drifted = F.to_json(
        F.struct(
            F.col("doc_id").cast("string").alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
    )
    clean = F.to_json(F.struct("doc_id", "text", "lang", "source", "n_chars"))
    lines = docs.select(
        F.when(F.col("doc_id") % 50 == 0, drifted).otherwise(clean).alias("value")
    )
    work = replay_workdir("jsonl_replay_")
    path = os.path.join(work, "jsonl")
    lines.write.mode("overwrite").text(path)

    schema = docs.schema.add("_corrupt", StringType())
    parsed = tracked_persist(
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    try:
        good = parsed.filter(F.col("_corrupt").isNull()).drop("_corrupt")
        dead_letter = parsed.filter(F.col("_corrupt").isNotNull()).select(
            F.col("_corrupt").alias("raw")
        )
        n_bad = dead_letter.count()
        assert n_bad == docs.filter(F.col("doc_id") % 50 == 0).count() > 0

        # The schema fix: re-parse the preserved raw lines with the
        # drifted schema, then cast back to the warehouse types.
        fixed_schema = (
            "doc_id string, text string, lang string, "
            "source string, n_chars bigint"
        )
        replayed = (
            dead_letter.select(
                F.from_json("raw", fixed_schema).alias("r")
            )
            .select("r.*")
            .withColumn("doc_id", F.col("doc_id").cast("bigint"))
            .select("doc_id", "text", "lang", "source", "n_chars")
        )
        assert replayed.filter(F.col("doc_id").isNull()).count() == 0

        recovered = good.unionByName(replayed)
        # Exact reconstruction: symmetric difference with the original
        # corpus is empty (duplicates included — exceptAll both ways).
        assert recovered.count() == docs.count()
        assert recovered.exceptAll(docs).count() == 0
        assert docs.exceptAll(recovered).count() == 0
    finally:
        release_persisted()


def test_fuzzy_match_finds_every_corruption(spark):
    """Neighborhood blocking must be lossless for Hamming<=1: every
    corrupted name matches back to its source, including corruption at
    position 1 (which breaks prefix blocking) and at the last position;
    names farther than one edit never match."""
    from full_data_infrastructure_spark.operators.joins import fuzzy_match

    clean = spark.createDataFrame(
        [(1, "alpha"), (2, "bravo"), (3, "bravq")],  # 2 and 3 are lev-1 kin
        "k bigint, nm string",
    )
    dirty = spark.createDataFrame(
        [(10, "xlpha"), (11, "bravx"), (12, "zzzzz")],
        "k bigint, nm string",
    )
    out = {
        (r["clean_key"], r["dirty_key"]): r["lev"]
        for r in fuzzy_match(
            clean, dirty, key="k", dirty_key="k", name="nm"
        ).collect()
    }
    assert out[(1, 10)] == 1  # first-position corruption still blocks
    assert out[(2, 11)] == 1  # last-position corruption
    assert out[(3, 11)] == 1  # genuine lev-1 neighbor also surfaces
    assert not any(d == 12 for _, d in out)  # far strings never match


@pytest.mark.parametrize(
    "hostile_sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_fuzzy_match_candidate_volume_bounded(spark, hostile_sf):
    """The blocking's scale claim, measured at a hostile scale point
    (VERDICT r6 item 7): TPC-H supplier names all share one length and a
    'Supplier#' prefix, so the naive same-length lev join the oracle runs
    is the full N^2 — the mask blocking must keep the candidate-pair
    volume per-entity-bounded.  Measured 1.9x N at sf0.01 and 2.5x N at
    sf0.1 (digit-position collisions grow ~log N); ceiling 8x N leaves
    drift room while sitting three orders of magnitude under N^2/N=1000
    at sf0.1."""
    if not os.path.isdir(hostile_sf):
        pytest.skip(f"{hostile_sf} not generated")
    from full_data_infrastructure_spark.operators.joins import masked_variants

    supplier = load_table(spark, hostile_sf, "supplier")
    n = supplier.count()
    corrupted = supplier.select(
        F.col("s_suppkey").alias("dirty_key"),
        F.concat(
            F.expr("substring(s_name, 1, (1 + s_suppkey % length(s_name)) - 1)"),
            F.lit("x"),
            F.expr("substring(s_name, (1 + s_suppkey % length(s_name)) + 1)"),
        ).alias("s_name"),
    )
    c = supplier.select(
        F.col("s_suppkey").alias("ck"),
        F.explode(masked_variants("s_name")).alias("mask"),
    )
    d = corrupted.select(
        F.col("dirty_key").alias("dk"),
        F.explode(masked_variants("s_name")).alias("mask"),
    )
    candidates = c.join(d, "mask").count()  # pre-distinct, pre-verify
    assert candidates <= 8 * n, (
        f"fuzzy_match candidate volume {candidates} exceeds 8x corpus "
        f"({n}) — blocking is degenerating toward the N^2 it exists to avoid"
    )


def test_paragraph_dedup_keeps_first_occurrence_and_order(spark):
    from full_data_infrastructure_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "intro. boilerplate. body one"),
            (2, "boilerplate. body two"),
            (3, "boilerplate"),  # loses its only chunk -> drops out
        ],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert rows[1]["dedup_text"] == "intro. boilerplate. body one"
    assert rows[1]["kept_chunks"] == 3
    assert rows[2]["dedup_text"] == "body two"  # boilerplate removed, order kept
    assert rows[2]["kept_chunks"] == 1
    assert 3 not in rows


def test_weighted_sample_prefers_heavier_docs(spark):
    """The A-ES priority hash(id)/weight must actually bias toward weight:
    with uniform hashes, doubling a stratum's weights should roughly
    double its win rate. Checked deterministically: among planted docs
    with identical hash inputs spaced evenly, the heavy ones win."""
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    out = REGISTRY["weighted_sample_docs"].build(
        spark, "/root/testdata/sf0.01"
    ).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    # exactly 20 winners per stratum
    assert all(len(v) == 20 for v in by_lang.values()), {
        k: len(v) for k, v in by_lang.items()
    }
    # weight bias: winners' mean n_chars exceeds the corpus stratum mean
    from full_data_infrastructure_spark.sources.parquet import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    means = {
        r["lang"]: r["m"]
        for r in docs.groupBy("lang").agg(F.avg("n_chars").alias("m")).collect()
    }
    heavier = sum(
        1
        for lang, rows in by_lang.items()
        if sum(r["n_chars"] for r in rows) / len(rows) > means[lang]
    )
    assert heavier >= len(by_lang) * 0.7, "weighted sample shows no weight bias"


def test_correlation_matrix_matches_numpy(spark, sf_dir):
    import numpy as np

    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    got = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in REGISTRY["correlation_matrix"].build(spark, sf_dir).collect()
    }
    pdf = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_quantity", "l_extendedprice", "l_discount")
        .toPandas()
    )
    for (a, b), v in got.items():
        want = float(np.corrcoef(pdf[a], pdf[b])[0, 1])
        assert abs(v - want) < 1e-3, (a, b, v, want)


def test_trend_matches_numpy_polyfit(spark, sf_dir):
    import numpy as np

    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    got = {
        r["event_type"]: r["slope_per_day"]
        for r in REGISTRY["trend_by_event_type"].build(spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events").select(
        F.expr("unix_micros(ts) div 1000000").alias("x"), "event_type", "value"
    )
    pdf = events.toPandas()
    for et, slope in got.items():
        sub = pdf[pdf.event_type == et]
        want = float(np.polyfit(sub.x.to_numpy(), sub.value.to_numpy(), 1)[0]) * 86400
        assert abs(slope - want) < max(1e-3, abs(want) * 1e-3), (et, slope, want)


def test_rare_bigram_flags_gibberish(spark):
    from full_data_infrastructure_spark.cache import release_persisted
    from full_data_infrastructure_spark.operators.text import _rare_bigram_quality

    # Build a tiny corpus directly through the builder's internals by
    # writing a temp parquet 'documents' table.
    import os
    import tempfile

    common = "the cat sat on the mat and looked at the dog"
    rows = [(i, common) for i in range(5)] + [
        (99, "zq wv xk jh qp mz vt lw kd rb ny")
    ]
    d = tempfile.mkdtemp(prefix="raretest_")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        os.path.join(d, "documents.parquet")
    )
    try:
        out = {r["doc_id"]: r["rare_frac"] for r in _rare_bigram_quality(spark, d).collect()}
        # every bigram of the repeated doc occurs 5x (> 2) => frac 0
        assert all(out[i] == 0.0 for i in range(5)), out
        # the gibberish doc's bigrams occur once each => frac 1
        assert out[99] == 1.0, out
    finally:
        release_persisted()


def test_pseudonymize_preserves_joinability(spark, sf_dir):
    """Pseudonymized columns must keep equality semantics: joining two
    independently tokenized projections of the same table on the token
    recovers exactly the key-join pairs, and distinct names get distinct
    tokens (16 hex chars of md5 — collisions would break grouping)."""
    from full_data_infrastructure_spark.operators.relational import pseudonymize

    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    a = pseudonymize(customer, ["c_name"], key="k2026").alias("a")
    b = pseudonymize(customer, ["c_name"], key="k2026").alias("b")
    n_tok = a.join(b, F.col("a.c_name") == F.col("b.c_name")).count()
    n_key = customer.alias("x").join(
        customer.alias("y"), F.col("x.c_custkey") == F.col("y.c_custkey")
    ).count()
    # names are unique in TPC-H => token join == key join cardinality
    assert n_tok == n_key
    n_names = customer.select("c_name").distinct().count()
    n_tokens = a.select("c_name").distinct().count()
    assert n_tokens == n_names
    # a different key re-keys every token
    c = pseudonymize(customer, ["c_name"], key="other")
    overlap = a.select("c_name").intersect(c.select("c_name")).count()
    assert overlap == 0


def test_pagerank_mass_conservation_and_hub_dominance(spark):
    """PageRank invariants on a crafted graph: total rank mass stays ~1
    (damped propagation conserves mass on a dangling-free graph), and the
    hub of a star graph outranks every leaf."""
    from full_data_infrastructure_spark.cache import release_persisted
    from full_data_infrastructure_spark.operators.joins import pagerank

    # star: 0 is the hub of 1..6, plus one distant edge 7-8
    pairs = [(0, i) for i in range(1, 7)] + [(7, 8)]
    edges = spark.createDataFrame(pairs, "u bigint, v bigint")
    try:
        rows = {r["part"]: r["pagerank"] for r in pagerank(edges).collect()}
    finally:
        release_persisted()
    assert abs(sum(rows.values()) - 1.0) < 1e-6, rows
    hub = rows[0]
    assert all(hub > rows[i] for i in range(1, 7)), rows


def test_group_split_has_no_user_leakage(spark, sf_dir):
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    out = REGISTRY["group_split_events"].build(spark, sf_dir)
    # every user maps to exactly one split
    multi = (
        out.groupBy("user_id")
        .agg(F.count_distinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert multi == 0
    # all three splits are populated and exhaustive
    splits = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(splits) == {"train", "val", "test"}
    assert sum(splits.values()) == out.count()


def test_winnowing_shared_run_guarantee(spark):
    """The winnowing contract (Schleimer/Wilkerson/Aiken): two documents
    sharing a run of >= 8 tokens (= one full 4-shingle window) must share
    at least one fingerprint, while documents with no shared 5-token
    shingle share none.  Also pins the guarantee floor: a shared run one
    token SHORT of the window span is allowed to produce no shared
    fingerprint (it does here by construction), which is exactly why the
    docstring promises >= 8 and not >= 7."""
    from full_data_infrastructure_spark.operators.text import (
        winnowing_fingerprints,
    )

    run8 = "zebra quokka lemur okapi gibbon tapir numbat wombat"  # 8 tokens
    rows = [
        (1, f"alpha beta gamma {run8} delta epsilon"),
        (2, f"one two three four five {run8} six"),
        (3, "totally different content with no overlapping shingles here ok"),
        # 7-token prefix of the run: 3 shared shingles < one window
        (4, "pre1 pre2 zebra quokka lemur okapi gibbon tapir numbat post1 post2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    fps = {r["doc_id"]: set(r["fps"]) for r in winnowing_fingerprints(docs).collect()}
    assert fps[1] & fps[2], "8-token shared run must share a fingerprint"
    assert not fps[1] & fps[3]
    assert not fps[2] & fps[3]
    # The sub-window run shares no fingerprint on this corpus (hashes are
    # deterministic, so this pin is stable): the guarantee floor is real.
    assert not fps[1] & fps[4]
    # every fingerprint is a selected shingle hash: subset of the doc's own
    # shingle hashes is implied by construction; sets are non-empty
    assert all(fps.values())


def test_sqrt_temperature_flattens_language_shares(spark, sf_dir):
    """Square-root temperature sampling invariants: the smallest language
    is kept whole (rate 1), every language's keep-rate is within one
    1/256 bucket of sqrt(n_min/n_l), and pairwise share ratios shrink
    toward 1 (flattening) without ever inverting an ordering."""
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded
    from full_data_infrastructure_spark.sources.parquet import load_table

    _ensure_loaded()
    docs = load_table(spark, sf_dir, "documents")
    inp = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    out_df = REGISTRY["mixture_sqrt_temperature"].build(spark, sf_dir)
    out = {
        r["lang"]: r["n"]
        for r in out_df.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_min = min(inp.values())
    min_lang = min(inp, key=inp.get)
    assert out[min_lang] == inp[min_lang], "smallest language must be kept whole"
    for lang, n_l in inp.items():
        want = (n_min / n_l) ** 0.5
        got = out[lang] / n_l
        # md5 buckets are uniform but finite: allow the 1/256 rate
        # granularity plus sampling noise on the bucket populations.
        assert abs(got - want) <= 1 / 256 + 3 * (want / n_l) ** 0.5, (
            lang, got, want,
        )
    # Flattening: the dominant/smallest share ratio must shrink toward
    # (not past) its square root.  Pairwise count comparisons are too
    # noisy for near-equal languages (md5-bucket sampling), so assert on
    # the extreme pair, whose input ratio is ~3x.
    ratio_in = max(inp.values()) / min(inp.values())
    ratio_out = max(out.values()) / min(out.values())
    assert ratio_out < ratio_in * 0.75, (ratio_in, ratio_out)
    assert ratio_out > ratio_in**0.5 * 0.75, (ratio_in, ratio_out)


def test_sqrt_temperature_clamp_and_null_lang(spark, tmp_path):
    """ADVICE r8 regression pins, on a >65536x-skew corpus the sf sweeps
    never reach: (1) the 1/256 keep-rate clamps to at least one bucket, so
    the dominant language is downsampled, never silently dropped (the
    unclamped floor(sqrt(n_min/n_l)*256) is 0 exactly there); (2) NULL-lang
    documents route through as their own group instead of vanishing into
    the inner rate join. md5 buckets are deterministic, so every count
    asserted here is exact, not statistical. The DuckDB oracle runs on the
    same corpus to pin both engines to the clamped semantics."""
    import duckdb

    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded
    from full_data_infrastructure_spark.sources.parquet import table_path
    from tests.oracle_check import compare

    _ensure_loaded()
    root = str(tmp_path)
    spark.range(70000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 0, F.lit("min"))
        .when(F.col("id") == 1, F.lit(None).cast("string"))
        .otherwise(F.lit("big"))
        .alias("lang"),
        F.lit("synthetic").alias("source"),
    ).write.parquet(table_path(root, "documents"))

    q = REGISTRY["mixture_sqrt_temperature"]
    out = q.build(spark, root)
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts.get("min") == 1, counts  # smallest language kept whole
    assert counts.get(None) == 1, counts  # NULL-lang group kept, not dropped
    # 69998 'big' docs at 69998x skew: unclamped k would be 0 (dropped);
    # the clamp keeps exactly the 1/256 md5 bucket — present but heavily
    # downsampled.
    assert 1 <= counts.get("big", 0) <= 69998 * 2 / 256, counts

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{table_path(root, 'documents')}/*.parquet'"
    )
    ok, msg = compare(out, con.sql(q.oracle))
    con.close()
    assert ok, msg


def test_mixture_sample_clamp_under_extreme_weight_skew(spark, tmp_path):
    """Same ADVICE r8 class as the sqrt-temperature clamp, in the
    weighted variant: when a weighted language's fair share w_l*T/n_l
    floors below one 1/256 bucket (here en at rate 0.002 — the weights
    say 50% but the corpus is 5000:1 en:de), the unclamped rate k=0
    dropped the language ENTIRELY; GREATEST(k,1) keeps its single md5
    bucket. Deterministic (md5), oracle-compared on the same corpus."""
    import duckdb

    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded
    from full_data_infrastructure_spark.sources.parquet import table_path
    from tests.oracle_check import compare

    _ensure_loaded()
    root = str(tmp_path)
    spark.range(5001).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 0, F.lit("de")).otherwise(F.lit("en")).alias("lang"),
        F.lit("synthetic").alias("source"),
    ).write.parquet(table_path(root, "documents"))

    q = REGISTRY["mixture_sample"]
    out = q.build(spark, root)
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # T = min(5000/0.5, 1/0.05) = 20; rate_de = 1 (kept whole), rate_en
    # = 10/5000 = 0.002 -> unclamped k = 0 -> clamp keeps one bucket.
    assert counts.get("de") == 1, counts
    assert 1 <= counts.get("en", 0) <= 5000 * 2 / 256, counts

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{table_path(root, 'documents')}/*.parquet'"
    )
    ok, msg = compare(out, con.sql(q.oracle))
    con.close()
    assert ok, msg


def test_rolling_hash_fingerprint_stability_and_shingle_semantics(spark, sf_dir):
    """rolling_hash_fingerprint is rows-only (xxhash64 has no DuckDB
    twin) and its docstring claims pytest-asserted stability — which
    round 10 found was never actually written. Pin it three ways: the
    result is bit-identical under any input partitioning; the
    array-transform formulation equals an INDEPENDENT explode+groupBy
    formulation of the same 5-token-shingle definition (so the slice
    indexing, the ' ' join, and the min/max pooling can't silently
    drift); and the >=5-token gate is exact (4 tokens out, 5 tokens in
    with min == max over the single shingle)."""
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded
    from full_data_infrastructure_spark.operators.text import tokens
    from full_data_infrastructure_spark.sources.parquet import load_table

    _ensure_loaded()
    build = REGISTRY["rolling_hash_fingerprint"].build
    got = {
        r["doc_id"]: (r["min_shingle_hash"], r["max_shingle_hash"])
        for r in build(spark, sf_dir).collect()
    }
    assert got, "corpus produced no >=5-token documents"

    # Independent formulation: posexplode each doc's token positions,
    # rebuild every 5-token shingle as a row, xxhash64 it, aggregate.
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 5
    )
    exploded = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("toks") - 4)).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        F.xxhash64(F.concat_ws(" ", F.expr("slice(toks, pos, 5)"))).alias("h"),
    )
    want = {
        r["doc_id"]: (r["mn"], r["mx"])
        for r in exploded.groupBy("doc_id")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .collect()
    }
    assert got == want

    # Partitioning invariance: documents loader in a different layout.
    repart = {
        r["doc_id"]: (r["min_shingle_hash"], r["max_shingle_hash"])
        for r in build(spark, sf_dir).repartition(13, "doc_id").collect()
    }
    assert repart == got

    # Token-count gate edge.
    edge = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d e"), (3, None)],
        "doc_id bigint, text string",
    )
    etoks = edge.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 5
    )
    n = F.size("toks") - 4
    hashes = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.xxhash64(F.concat_ws(" ", F.slice("toks", i + 1, 5))),
    )
    rows = etoks.select(
        "doc_id",
        F.array_min(hashes).alias("mn"),
        F.array_max(hashes).alias("mx"),
    ).collect()
    assert [r["doc_id"] for r in rows] == [2]
    assert rows[0]["mn"] == rows[0]["mx"]


def test_check_schema_verdicts_every_case(spark, sf_dir):
    """validation_schema_check is rows-only (schema introspection has no
    SQL oracle), and round 10's rows-only audit found check_schema itself
    had no dedicated test. Pin its verdict semantics: matching column,
    type mismatch, and absent column each produce the right (actual_type,
    ok) row; row order follows the requirement dict; and the registered
    query's expectations all hold on the real events table."""
    from full_data_infrastructure_spark.operators.quality import check_schema
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    df = spark.createDataFrame([(1, "x", 2.0)], "a bigint, b string, c double")
    out = check_schema(
        df, {"a": "bigint", "b": "double", "missing": "string"}
    ).collect()
    assert [
        (r["column"], r["expected_type"], r["actual_type"], r["ok"]) for r in out
    ] == [
        ("a", "bigint", "bigint", True),
        ("b", "double", "string", False),
        ("missing", "string", None, False),
    ]

    _ensure_loaded()
    rows = REGISTRY["validation_schema_check"].build(spark, sf_dir).collect()
    assert len(rows) == 6
    assert all(r["ok"] for r in rows), [
        (r["column"], r["actual_type"]) for r in rows if not r["ok"]
    ]


def test_release_persisted_releases_dead_builder_locals(spark, sf_dir):
    """release_persisted must release persists whose only Python reference
    was a builder local (dead by the time the harness calls it). The
    weakref-based first cut released NOTHING in exactly that case — the
    JVM CacheManager kept every entry and canonically-equal rebuilds
    silently substituted the previous run's cached data, so a best-of-N
    timing measured cache-warm repeats. Pin both
    halves: a nonzero release count, and an empty JVM CacheManager
    afterwards (no leaked entry left to substitute into the next build)."""
    from full_data_infrastructure_spark.cache import (
        release_persisted,
        tracked_persist,
    )

    def builder():
        # The persisted wrapper is a LOCAL — exactly the operator pattern.
        inner = tracked_persist(
            load_table(spark, sf_dir, "documents").select("doc_id")
        )
        return inner.join(inner.withColumnRenamed("doc_id", "d2"))

    release_persisted()  # clean slate for the probe
    builder().count()
    released = release_persisted()
    assert released >= 1, "tracked persist with a dead local was not released"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "JVM CacheManager still holds entries after release_persisted — "
        "the next canonically-equal build would reuse stale cached data"
    )


def test_release_persisted_removes_dropped_replay_work_dirs(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A rebuilt streaming query must leave no work dir behind once its
    results are dropped and release_persisted runs. A result that is
    still referenced keeps its dir through the release and stays
    readable: a harness may check its last pass after releasing."""
    import gc
    import tempfile

    from full_data_infrastructure_spark.cache import release_persisted
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def work_dirs() -> list[str]:
        return [d for d in os.listdir(tmp_path) if d.startswith("upsert_snapshot_")]

    build = REGISTRY["streaming_upsert_snapshot"].build
    release_persisted()
    first = build(spark, sf_dir)
    n_rows = first.count()
    second = build(spark, sf_dir)
    assert len(work_dirs()) == 2
    del first
    gc.collect()
    release_persisted()
    assert len(work_dirs()) == 1, "the dropped build's work dir survived"
    assert second.count() == n_rows > 0
    del second
    gc.collect()
    release_persisted()
    assert work_dirs() == [], "the rebuilt query left its work dir behind"
