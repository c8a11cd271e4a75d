"""Shared Spark session + fixture tables for the test suite."""

from __future__ import annotations

import pytest

from cqaduplicatefind_spark.config import DedupConfig
from cqaduplicatefind_spark.session import build_session
from fixtures import FixtureSpec, pages_df


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="cqadf-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra={
            "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def cfg() -> DedupConfig:
    return DedupConfig(shuffle_partitions=8, signature_partitions=8)


@pytest.fixture(scope="session")
def tiny_fixture(spark):
    """~200 pages: brute-force all-pairs oracle is feasible (FIXTURES.md 'tiny')."""
    pages, edges, clusters = pages_df(spark, FixtureSpec(n_pages=200, seed=42))
    pages = pages.cache()
    pages.count()
    return pages, edges.cache(), clusters.cache()


@pytest.fixture(scope="session")
def small_fixture(spark):
    """~1000 pages: golden cluster / recall tests (FIXTURES.md 'small')."""
    pages, edges, clusters = pages_df(
        spark, FixtureSpec(n_pages=1000, seed=7, max_tokens=800)
    )
    pages = pages.cache()
    pages.count()
    return pages, edges.cache(), clusters.cache()
