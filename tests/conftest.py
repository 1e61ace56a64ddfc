import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mover_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("mover-spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def catalog(spark):
    from mover_spark.catalog import Catalog

    return Catalog(spark, SF_DIR)
