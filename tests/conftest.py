from __future__ import annotations

import pytest

from georaster_spark.session import get_spark
from georaster_spark.sources.fixtures import ensure_fixtures


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="georaster-tests", shuffle_partitions=16)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf0001_dir():
    return ensure_fixtures("sf0.001")


@pytest.fixture(scope="session")
def sf001_dir():
    return ensure_fixtures("sf0.01")
