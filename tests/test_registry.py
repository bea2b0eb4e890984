"""Guard the registry's oracle coverage and its documented surface size."""

import re
from pathlib import Path

from full_data_infrastructure_spark import queries as registry

registry._ensure_loaded()

# Queries whose output is engine-specific by design, so no DuckDB oracle
# can hash-match them; their properties are asserted by pytest instead.
ROWS_ONLY_BY_DESIGN = {
    "dedup_minhash_lsh",
    "dedup_survivors_lsh",
    "dedup_simhash",
    "dedup_incremental_lsh",
    "corpus_pipeline_lsh",
    "corpus_pipeline_full_lsh",
    "approx_count_distinct",  # HLL sketch values are engine-specific
    "knn_lsh",
    "knn_ivf",
    "knn_pq",  # PQ codes are engine-specific; recall pytest-asserted
    "knn_ivfpq",
    "rolling_hash_fingerprint",
    "validation_schema_check",  # V5 schema introspection: engine-specific
    "bpe_learn",  # merge table is trainer-specific; parity pytest-asserted
    "bpe_tokenize_counts",
    "embedding_pca_project",  # eigenvector sign/order; numpy-parity pytest
}


def test_only_rows_only_by_design_queries_lack_an_oracle():
    """Every query without an oracle must be one of the by-design
    rows-only queries, so no oracle can silently go missing."""
    missing = sorted(
        name
        for name, q in registry.REGISTRY.items()
        if q.oracle is None and name not in ROWS_ONLY_BY_DESIGN
    )
    assert not missing, f"queries lost their oracle: {missing}"


def test_surface_counts_match_coverage_doc():
    """COVERAGE.md's headline surface counts must equal the registry —
    the numbers drifted twice (commit 86d04f6), so they are asserted
    instead of hand-maintained."""
    total = len(registry.REGISTRY)
    with_oracle = sum(1 for q in registry.REGISTRY.values() if q.oracle)
    rows_only = total - with_oracle
    # Resolve from this file, not the cwd — pytest may run from anywhere.
    text = (Path(__file__).resolve().parents[1] / "COVERAGE.md").read_text()
    m = re.search(
        r"(\d+) registered queries, (\d+) with DuckDB oracles \(the (\d+)",
        text,
    )
    assert m, "COVERAGE.md surface-size sentence missing or reworded"
    assert tuple(map(int, m.groups())) == (total, with_oracle, rows_only), (
        f"COVERAGE.md says {m.groups()}, registry has "
        f"({total}, {with_oracle}, {rows_only})"
    )
