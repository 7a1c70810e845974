import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# test-support modules (media_encoders, truth_geodesic) import as flat names
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from geodistpy_spark import get_spark  # noqa: E402
from geodistpy_spark.sources.fixtures import ensure_default_fixtures  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="geodistpy_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_paths():
    return ensure_default_fixtures()


@pytest.fixture(scope="session")
def places(spark, fixture_paths):
    return spark.read.parquet(fixture_paths["places"]).cache()


@pytest.fixture(scope="session")
def docs(spark, fixture_paths):
    return spark.read.parquet(fixture_paths["documents"]).cache()


@pytest.fixture(scope="session")
def polygons(spark, fixture_paths):
    return spark.read.parquet(fixture_paths["polygons"])


@pytest.fixture(scope="session")
def raster(spark, fixture_paths):
    return spark.read.parquet(fixture_paths["raster"])
