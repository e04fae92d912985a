import os

import pytest

from homemade_vector_db_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# Round 14 (VERDICT r13 Next #5): the full suite outgrew the driver's
# verify window (~50 min serial; VERIFY_r13 cut off at ~93% with zero
# failures). The slowest end-to-end gates are marked `slow` and form a
# tier the default run SKIPS with a visible reason, so
# `python -m pytest tests/ -x -q` finishes inside the window with a real
# summary line. Run the slow tier with HVDB_SLOW_TESTS=1 (all tests) or
# `-m slow` (just the tier); scripts/run_all.py and the standing
# CORRECTNESS_sf0.1 sweep cover the same end-to-end surfaces besides.
RUN_SLOW = os.environ.get("HVDB_SLOW_TESTS", "") == "1"


def pytest_collection_modifyitems(config, items):
    if RUN_SLOW or config.getoption("-m", default=""):
        return
    skip_slow = pytest.mark.skip(
        reason="slow tier (HVDB_SLOW_TESTS=1 to run)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip_slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="hvdb-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def stored_rdds(spark):
    """Callable returning the ids of the RDDs that hold blocks in
    executor storage — persisted frames and local checkpoints alike."""
    sc = spark.sparkContext._jsc.sc()
    return lambda: {info.id() for info in sc.getRDDStorageInfo()}
