import os
import sys

import pytest

# the checkout root, so tests import blueflood_spark and __spark_entry__
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from blueflood_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    try:
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # newer Sparks read TIMESTAMP(NANOS) natively; _t() normalizes
    yield s
