"""Shared SparkSession for the whole test run (startup is ~10 s; one
session keeps the suite fast)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from tf_prisma_api_data_ingestion_spark.session import get_spark
    s = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def _release_tracked_persists():
    """Drop every frame ``cache.tracked_persist`` registered while the
    module ran, so cache entries do not pile up across the suite."""
    yield
    from tf_prisma_api_data_ingestion_spark import cache
    cache.release_all()
