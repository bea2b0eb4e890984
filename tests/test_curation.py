"""Semantic tests for the corpus-curation operators (curation.py) and the
connected-components cluster resolution (dedup.py). Engine/oracle parity on
the synthetic corpus is covered by test_oracle_parity.py; these assert the
behaviors the synthetic data cannot exercise (real PII strings, known graph
shapes, split exhaustiveness).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from full_data_infrastructure_spark.operators.curation import (
    hash_bucket,
    pii_count,
    redact_pii,
)
from full_data_infrastructure_spark.operators.dedup import connected_components


def test_redact_pii_replaces_all_three_kinds(spark):
    df = spark.createDataFrame(
        [
            (1, "contact bob.smith+x@example.co.uk or +14155550123 now"),
            (2, "server at 10.0.255.7 logged jane@corp.io twice: jane@corp.io"),
            (3, "no pii here, just 1.2 released and versions 10.4"),
        ],
        "id int, text string",
    )
    out = {
        r["id"]: (r["clean"], r["n"])
        for r in df.select(
            "id",
            redact_pii("text").alias("clean"),
            pii_count("text").alias("n"),
        ).collect()
    }
    assert out[1] == ("contact <EMAIL> or <PHONE> now", 2)
    assert out[2] == ("server at <IP> logged <EMAIL> twice: <EMAIL>", 3)
    # dotted version numbers must NOT be eaten by the IPv4 rule
    assert out[3] == ("no pii here, just 1.2 released and versions 10.4", 0)


def test_hash_bucket_split_is_disjoint_and_exhaustive(spark, sf_dir):
    from full_data_infrastructure_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    split = F.when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
    counts = {
        r["split"]: r["n"]
        for r in docs.groupBy(split.alias("split"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = docs.count()
    assert sum(counts.values()) == total  # exhaustive, disjoint by CASE
    assert counts.get("train", 0) > counts.get("val", 0)
    assert counts.get("train", 0) > counts.get("test", 0)
    # determinism: second evaluation sees identical assignment
    again = {
        r["split"]: r["n"]
        for r in docs.groupBy(split.alias("split"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert counts == again


def test_connected_components_known_graph(spark):
    # components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21} (pair)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a bigint, doc_b bigint",
    )
    labels = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edges).collect()
    }
    assert labels == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_long_chain_converges(spark):
    # a path graph: the component minimum must reach the far end
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a bigint, doc_b bigint"
    )
    labels = connected_components(edges)
    assert labels.filter(F.col("cluster_id") != 0).count() == 0
    assert labels.count() == n + 1


def test_repetition_signals_hand_computed(spark, sf_dir, monkeypatch):
    import full_data_infrastructure_spark.operators.curation as cur

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "x y z w")], "doc_id bigint, text string"
    )
    monkeypatch.setattr(
        cur, "load_table", lambda _spark, _sf, _name: docs
    )
    out = {
        r["doc_id"]: r
        for r in cur._repetition_signals(spark, sf_dir).collect()
    }
    # doc 1: tokens [a,a,b] -> 2 distinct of 3; top 'a' 2/3; bigrams
    # ['a a','a b'] both distinct -> dup 0
    assert abs(out[1]["dup_token_frac"] - (1 - 2 / 3)) < 1e-12
    assert abs(out[1]["top_token_frac"] - 2 / 3) < 1e-12
    assert abs(out[1]["dup_bigram_frac"] - 0.0) < 1e-12
    # doc 2: all unique
    assert abs(out[2]["dup_token_frac"] - 0.0) < 1e-12
    assert abs(out[2]["top_token_frac"] - 0.25) < 1e-12


def test_pack_sequences_bins_respect_budget(spark, sf_dir):
    """Every doc's bin_offset is within the 2048-token budget, bins within
    a bucket are contiguous from 0, and offsets advance by exactly the
    preceding doc's token count (no gaps, no overlaps)."""
    from full_data_infrastructure_spark.operators.packing import CONTEXT_TOKENS
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    rows = REGISTRY["pack_sequences"].build(spark, sf_dir).collect()
    assert rows
    by_bucket: dict[str, list] = {}
    for r in rows:
        assert 0 <= r["bin_offset"] < CONTEXT_TOKENS
        assert r["bin_id"] * CONTEXT_TOKENS + r["bin_offset"] >= 0
        by_bucket.setdefault(r["bucket"], []).append(r)
    for bucket, docs in by_bucket.items():
        docs.sort(key=lambda r: (r["bin_id"], r["bin_offset"]))
        cum = 0
        for r in docs:
            assert r["bin_id"] == cum // CONTEXT_TOKENS, (bucket, r)
            assert r["bin_offset"] == cum % CONTEXT_TOKENS, (bucket, r)
            cum += r["n_tok"]


def test_mixture_sample_hits_target_proportions(spark, sf_dir):
    """Output language shares approximate the target mixture (within the
    1/256 rate granularity plus hash-bucket noise), and only weighted
    languages appear."""
    from full_data_infrastructure_spark.operators.packing import MIXTURE_WEIGHTS
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    rows = REGISTRY["mixture_sample"].build(spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    shares: dict[str, float] = {}
    for r in rows:
        shares[r["lang"]] = shares.get(r["lang"], 0) + 1
    assert set(shares) <= set(MIXTURE_WEIGHTS)
    for lang, cnt in shares.items():
        want = MIXTURE_WEIGHTS[lang]
        got = cnt / n
        # rate granularity 1/256 + small-sample hash noise
        assert abs(got - want) < 0.12, (lang, got, want)
    # the binding language (largest n_l/w_l deficit) is kept ~in full
    assert max(shares.values()) / n <= 0.65


def test_c4_quality_filters_flags_are_consistent(spark, sf_dir):
    """keep must equal the conjunction of the individual rules on the real
    corpus (the synthetic docs never end with punctuation, so keep is
    allowed to be 0 there — the rules still have to agree)."""
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    rows = REGISTRY["c4_quality_filters"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        want_keep = (
            not r["too_short"]
            and r["has_terminal_punct"]
            and not r["has_brace"]
            and not r["has_lorem"]
            and not r["degenerate_word_len"]
            and r["n_tok"] > 0
        )
        assert r["keep"] == want_keep, r


def test_c4_flags_discriminate_on_crafted_docs(spark):
    from full_data_infrastructure_spark.operators.packing import c4_flags

    docs = spark.createDataFrame(
        [
            (1, "A perfectly normal sentence about ordinary things."),
            (2, "too short."),                              # < 5 tokens
            (3, "this one has no terminal punctuation at all"),
            (4, "function main() { return the brace rule. }."),
            (5, "Lorem ipsum dolor sit amet, consectetur adipiscing elit."),
            (6, "aaaaaaaaaaaaaaaaaaaaaaaaaaaa bbbbbbbbbbbbbbbbbbbbbbbbbb "
                "cccccccccccccccccccccccccc dddddddddddddddddddddddddd "
                "eeeeeeeeeeeeeeeeeeeeeeeeee."),             # word len > 12
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in c4_flags(docs).collect()}
    assert got[1]["keep"]
    assert got[2]["too_short"] and not got[2]["keep"]
    assert not got[3]["has_terminal_punct"] and not got[3]["keep"]
    assert got[4]["has_brace"] and not got[4]["keep"]
    assert got[5]["has_lorem"] and not got[5]["keep"]
    assert got[6]["degenerate_word_len"] and not got[6]["keep"]


def test_chunk_documents_covers_docs_with_overlap(spark, sf_dir):
    """Chunks tile each doc at the configured stride: chunk 0 starts at
    token 1, consecutive chunks overlap by (size - stride) tokens, every
    token lands in some chunk, and only the final chunk may run short."""
    from full_data_infrastructure_spark.operators.packing import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )
    from full_data_infrastructure_spark.queries import REGISTRY, _ensure_loaded

    _ensure_loaded()
    rows = REGISTRY["chunk_documents"].build(spark, sf_dir).collect()
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    multi = 0
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        n_tok = chunks[0]["n_tok"]
        assert [c["chunk_idx"] for c in chunks] == list(range(len(chunks)))
        for c in chunks[:-1]:
            assert c["n_tok_chunk"] == CHUNK_TOKENS, (doc_id, c)
        last = chunks[-1]
        start_last = last["chunk_idx"] * CHUNK_STRIDE
        assert last["n_tok_chunk"] == min(CHUNK_TOKENS, n_tok - start_last)
        # full coverage: the last chunk reaches the end of the doc
        assert start_last + last["n_tok_chunk"] == n_tok
        if len(chunks) > 1:
            multi += 1
    assert multi > 0  # the corpus genuinely exercises the sliding window


def test_twostar_matches_minlabel_on_known_and_random_graphs(spark):
    """The large-star/small-star components must carry the min-label
    labelling — every vertex labelled with its component's minimum id, as
    a plain union-find computes it: known shapes (chain, triangle, pair),
    a 12-vertex path, self-loops, and a seeded random graph."""
    import random

    from full_data_infrastructure_spark.operators.dedup import connected_components

    def union_find_labels(edges):
        parent: dict[int, int] = {}

        def find(v):
            parent.setdefault(v, v)
            while parent[v] != v:
                parent[v] = parent[parent[v]]
                v = parent[v]
            return v

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {v: find(v) for v in parent}

    cases = [
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        [(i, i + 1) for i in range(12)],
        # self-loop-only vertex 99 must survive as its own singleton
        [(1, 2), (99, 99), (3, 3), (3, 4)],
    ]
    rng = random.Random(7)
    cases.append(
        [(rng.randrange(40), rng.randrange(40)) for _ in range(45)]
    )
    for edges in cases:
        df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        got = {r["id"]: r["cluster_id"] for r in connected_components(df).collect()}
        assert got == union_find_labels(edges), edges


def test_twostar_converges_logarithmically_on_deep_chain(spark):
    """A 64-vertex path is the adversarial depth case: min-label needs 63
    rounds, two-star must contract it within O(log^2 n) — well inside the
    default 30-round budget (which would RuntimeError otherwise). Also
    exercises the star-forest convergence probe on a graph that is far
    from star-shaped at the start: every vertex must still land on the
    component minimum, and a disjoint 2-cycle plus singleton self-loop
    must not leak labels across components."""
    from full_data_infrastructure_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(63)]  # path 0-1-...-63
    edges += [(100, 101), (101, 100), (200, 200)]
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    labels = {r["id"]: r["cluster_id"] for r in connected_components(df).collect()}
    assert all(labels[v] == 0 for v in range(64))
    assert labels[100] == labels[101] == 100
    assert labels[200] == 200


def test_distinct_inflation_is_a_per_copy_ngram_isomorphism(spark, sf_dir, tmp_path):
    """The round-11 scale harness (scale_rehearsal.inflate_documents_distinct)
    rests on two properties, pinned here so the non-degenerate
    corpus_pipeline_full_lsh scale point can't silently regress to the
    saturating shape (SCALE.md round-10 finding 2):

    1. ACROSS copies the word-3-gram spaces are disjoint — every token of
       copy i>0 carries the `{i}x` tag, so decontamination never fires
       between copies;
    2. WITHIN a copy the suffix map is a token bijection, i.e. stripping
       the tag recovers the base text verbatim — each copy preserves the
       base corpus's dup families and pairwise shingle-overlap structure
       exactly (an n-gram isomorphism; the eval/train SPLIT itself is
       re-rolled per copy because doc_ids shift), which is what keeps
       every stage of the full pipeline live at 10x/30x.
    """
    import re
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from scale_rehearsal import inflate_documents_distinct

    from full_data_infrastructure_spark.sources.parquet import load_table

    dest = str(tmp_path / "inflated")
    n = inflate_documents_distinct(spark, sf_dir, dest, k=3)
    base = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    assert n == 3 * len(base)
    inflated = load_table(spark, dest, "documents").collect()

    for row in inflated:
        copy, base_id = divmod(row["doc_id"], 10**9)
        if copy == 0:
            assert row["text"] == base[base_id]  # copy 0 verbatim
            continue
        toks = row["text"].split()
        # every token carries exactly this copy's tag...
        assert all(t.endswith(f"{copy}x") for t in toks), row["doc_id"]
        # ...and stripping it recovers the base text verbatim (bijection)
        stripped = " ".join(t[: -len(f"{copy}x")] for t in toks)
        assert stripped == re.sub(r"\s+", " ", base[base_id].strip()), (
            row["doc_id"]
        )
        # n_chars tracks the rewritten text
        assert row["n_chars"] == len(row["text"])


def test_distinct_inflation_rejects_digit_bearing_vocabulary(spark, tmp_path):
    """The `{i}x` copy tags are only unambiguous over a DIGIT-FREE base
    vocabulary: token 'foo1' in copy 1 and token 'foo' in copy 11 both
    become 'foo11x', silently reintroducing cross-copy contamination
    (ADVICE r11).  The precondition is enforced at runtime, not assumed
    of the synthetic corpus."""
    import sys
    from pathlib import Path

    import pytest

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from scale_rehearsal import inflate_documents_distinct

    src = tmp_path / "digit_corpus"
    spark.createDataFrame(
        [(1, "foo1 bar baz", 12), (2, "plain alpha text", 16)],
        "doc_id bigint, text string, n_chars bigint",
    ).write.parquet(str(src / "documents.parquet"))
    with pytest.raises(ValueError, match="digit-free base"):
        inflate_documents_distinct(spark, str(src), str(tmp_path / "out"), k=12)
    # k=1 (no tagged copies) stays legal on the same corpus
    n = inflate_documents_distinct(spark, str(src), str(tmp_path / "out1"), k=1)
    assert n == 2
