"""Correctness checks made apart from the program, outside the timed passes.

Every benchmarked operation has at least one:

* DuckDB runs the operation's registered oracle SQL on the same input
  directory, compared cell by cell with ``tests/oracle_check.py``'s
  ``compare`` (exact on every column);
* ``knn_ivfpq``: recall@``TOP_K`` against an exact NumPy top-k;
* ``dedup_minhash_lsh``: every reported pair's word 3-gram Jaccard,
  recomputed in Python, is at or above the threshold and equals the
  reported value, and the planted near-duplicate pairs are found;
* ``corpus_pipeline_lsh``: packed-document agreement with DuckDB's
  ``corpus_pipeline`` oracle result.

Each check returns ``None`` on success or a one-line reason.
"""

from __future__ import annotations

import re
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from perfbench.inputs import DUP_ID_OFFSET

# The test suite's recall floor for knn_ivfpq at sf0.01 (tests/test_operators.py).
KNN_RECALL_FLOOR = 0.80
# corpus_pipeline_lsh vs the exact pipeline (tests/test_operators.py).
CORPUS_AGREEMENT_FLOOR = 0.95
# Share of the planted near-duplicate pairs MinHash-LSH must report.
PLANTED_RECALL_FLOOR = 0.90
# Java's \s, which the program's tokenizer splits on.
_JAVA_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")


def word_shingles(text: str, n: int) -> set[str]:
    toks = [t for t in _JAVA_SPACE.split(text.lower()) if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def exact_knn(input_dir: Path, n_queries: int, k: int) -> set[tuple[int, int]]:
    """Exact cosine top-k of every query vector (``vec_id < n_queries``),
    self excluded, ranked by the score rounded to 4 dp then by id."""
    t = pq.read_table(input_dir / "embeddings.parquet", columns=["vec_id", "embedding"])
    ids = t["vec_id"].to_numpy()
    vecs = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    norms = np.sqrt((vecs * vecs).sum(axis=1))
    keep = norms > 0
    ids, vecs, norms = ids[keep], vecs[keep], norms[keep]
    truth: set[tuple[int, int]] = set()
    for qi in np.flatnonzero(ids < n_queries):
        cos = np.round(vecs @ vecs[qi] / (norms[qi] * norms), 4)
        order = np.lexsort((ids, -cos))
        top = [int(ids[j]) for j in order if j != qi][:k]
        truth.update((int(ids[qi]), nb) for nb in top)
    return truth


def check_knn_ivfpq(df, con, input_dir: Path) -> str | None:
    from full_data_infrastructure_spark.operators.similarity import N_QUERIES, TOP_K

    got = {(r[0], r[1]) for r in df.select("query_id", "neighbor_id").collect()}
    truth = exact_knn(input_dir, N_QUERIES, TOP_K)
    recall = len(got & truth) / len(truth)
    if recall < KNN_RECALL_FLOOR:
        return f"recall@{TOP_K} {recall:.3f} < {KNN_RECALL_FLOOR}"
    return None


def check_minhash_pairs(df, con, input_dir: Path) -> str | None:
    from full_data_infrastructure_spark.operators.dedup import JACCARD_THRESHOLD, NGRAM

    docs = pq.read_table(input_dir / "documents.parquet", columns=["doc_id", "text"])
    shingles = {
        d: word_shingles(t, NGRAM)
        for d, t in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist())
    }
    pairs = df.select("doc_a", "doc_b", "jaccard").collect()
    for a, b, reported in pairs:
        sa, sb = shingles[a], shingles[b]
        jac = len(sa & sb) / len(sa | sb)
        if jac < JACCARD_THRESHOLD or abs(jac - reported) > 1e-12:
            return f"pair ({a}, {b}): reported {reported}, recomputed {jac}"
    found = {frozenset((a, b)) for a, b, _ in pairs}
    planted = [
        frozenset((d - DUP_ID_OFFSET, d)) for d in shingles if d >= DUP_ID_OFFSET
    ]
    recall = sum(p in found for p in planted) / len(planted)
    if recall < PLANTED_RECALL_FLOOR:
        return f"planted near-duplicate recall {recall:.3f} < {PLANTED_RECALL_FLOOR}"
    return None


def check_corpus_pipeline_lsh(df, con, input_dir: Path) -> str | None:
    from full_data_infrastructure_spark.queries import REGISTRY

    exact = set(con.sql(REGISTRY["corpus_pipeline"].oracle).fetchdf()["doc_id"].tolist())
    lsh = {r[0] for r in df.select("doc_id").collect()}
    agreement = len(exact & lsh) / len(exact | lsh)
    if agreement < CORPUS_AGREEMENT_FLOOR:
        return f"packed-doc agreement {agreement:.3f} < {CORPUS_AGREEMENT_FLOOR}"
    return None


EXTRA_CHECKS = {
    "knn_ivfpq": check_knn_ivfpq,
    "dedup_minhash_lsh": check_minhash_pairs,
    "corpus_pipeline_lsh": check_corpus_pipeline_lsh,
}


def _check_one(entry, df, con, input_dir: Path) -> str | None:
    from tests.oracle_check import compare

    extra = EXTRA_CHECKS.get(entry.name)
    if entry.oracle is None and extra is None:
        return "no independent check"
    if entry.oracle is not None:
        ok, msg = compare(df, con.sql(entry.oracle), exact_cols=entry.exact_float_cols)
        if not ok:
            return f"oracle mismatch: {msg}"
    return extra(df, con, input_dir) if extra is not None else None


def check_outputs(dfs: dict, input_dir: Path) -> dict[str, str]:
    """Check each query's DataFrame; returns ``{query: reason}`` for failures.

    A check that raises is a failure of its operation: the program
    produced no result the check could read."""
    from full_data_infrastructure_spark.cache import release_persisted
    from full_data_infrastructure_spark.queries import REGISTRY
    from tests.oracle_check import duckdb_conn

    failures: dict[str, str] = {}
    con = duckdb_conn(str(input_dir))
    try:
        for name, df in dfs.items():
            t = time.perf_counter()
            try:
                reason = _check_one(REGISTRY[name], df, con, input_dir)
            except Exception as exc:
                reason = f"check raised {exc!r}"
            finally:
                release_persisted()
            print(f"perfbench: check {name}: {time.perf_counter() - t:.2f}s", file=sys.stderr)
            if reason is not None:
                failures[name] = reason[:500]
    finally:
        con.close()
    return failures
