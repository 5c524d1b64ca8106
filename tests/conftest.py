import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Keep test sessions small and fast.
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from lovdata_pipeline_spark.session import get_spark

    spark = get_spark("tests", shuffle_partitions=4)
    yield spark
    spark.stop()


def _pinned_ids(spark) -> set:
    """Ids (not count) of currently persisted RDDs: assertions diff id
    SETS so the ContextCleaner asynchronously releasing some OTHER
    test's GC-owned checkpoint blocks mid-test can never flip a
    verdict (count-based asserts were flaky under full-suite ordering)."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}
