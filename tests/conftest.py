import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# Test scale: sf0.001 for speed; scripts/verify_driver.py runs every query
# at the sf0.01 scale of the driver's correctness gate.
TEST_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from map_reduce_go_spark import get_spark

    # local[N,2]: allow one task retry so fault-tolerance tests (the A7
    # crash-recovery analog) can inject task failures.
    spark = get_spark(app_name="mrgs-tests", master="local[32,2]")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def blob_frame(spark):
    """``blob_frame(items, modality=None)``: a frame on the multimodal blob
    schema from ``(doc_id, bytes or None)`` pairs, plus a constant
    ``modality`` column when one is given (``extract_features`` reads it)."""
    from pyspark.sql import functions as F

    from map_reduce_go_spark.operators.multimodal import BLOB_SCHEMA

    def make(items, modality=None):
        df = spark.createDataFrame([(int(i), b) for i, b in items], BLOB_SCHEMA)
        return df if modality is None else df.withColumn("modality", F.lit(modality))

    return make


@pytest.fixture(autouse=True)
def _release_tracked_caches():
    """Query-owned caches release after every test — the same hygiene the
    bench/verify harnesses apply per query, so a 300-test session never
    accumulates pinned storage."""
    yield
    from map_reduce_go_spark.functions.caching import release_caches

    release_caches()


@pytest.fixture(scope="session")
def duck(sf_dir):
    from tests.oracle_compare import duck_views

    con = duck_views(sf_dir)
    yield con
    con.close()
