from __future__ import annotations

import os

import pytest

SF_TEST_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

# Collection order: the most load-bearing evidence runs first -- registry
# gates, the oracle-parity sweep, the streaming end-to-end suite, the
# physical-plan gates, then the operator/property layers, with the five
# adversarial corpus sweeps (each a full re-run of the query surface on a
# mutated corpus) last.  A run cut short by an outer timeout has then
# attested the core evidence.
_CRITICAL_FIRST = (
    "test_registry.py",
    "test_oracle_check.py",
    "test_oracle_parity.py",
    "test_streaming.py",
    "test_plans.py",
    "test_operators.py",
    "test_properties.py",
    "test_curation.py",
    "test_sources.py",
    "test_totality.py",
    "test_time_semantics.py",
    "test_null_semantics.py",
    "test_tz_semantics.py",
    "test_unicode_semantics.py",
    "test_extreme_semantics.py",
    "test_layout_invariance.py",
)
_RANK = {name: i for i, name in enumerate(_CRITICAL_FIRST)}


def pytest_collection_modifyitems(session, config, items):
    # Stable sort by file rank: intra-file order (and therefore module-
    # scoped fixture behavior) is untouched; unknown files sort last in
    # their collected order.
    items.sort(
        key=lambda it: _RANK.get(os.path.basename(str(it.fspath)), len(_RANK))
    )


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from full_data_infrastructure_spark.session import build_session

    # Managed tables (the bucketed-join plan gates) live under the test
    # tmp dir, not in a spark-warehouse/ in the working directory.
    warehouse = str(tmp_path_factory.mktemp("spark-warehouse"))
    session = build_session(
        app_name="fdi-spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield session


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_TEST_DIR
