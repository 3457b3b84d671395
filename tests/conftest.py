import gc
import os
import sys
import warnings

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from polycheck_spark.session import get_spark
    s = get_spark("polycheck_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


def _persisted_rdd_ids(spark):
    it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
    out = set()
    while it.hasNext():
        out.add(it.next())
    return out


@pytest.fixture(autouse=True)
def assert_no_persisted_rdd_leak(request):
    """Suite-wide storage-leak guard (generalizes r4's
    test_tile_rollup_leaves_nothing_persisted), two tiers:

    HARD (deterministic): the CacheManager must be EMPTY after every test.
    ``.cache()``/``.persist()`` register the plan there at call time and
    the entry lives until an explicit unpersist or session end — exactly
    the r4 leak class this guards against.  No operator or test in this
    suite caches anymore (everything hot uses localCheckpoint), so any
    non-empty CacheManager is a regression, flagged with zero timing
    dependence.

    SOFT (GC-timed): newly persisted RDDs — localCheckpoint storage — must
    drain once test-local references are dropped (gc.collect -> py4j
    detach -> JVM GC -> ContextCleaner).  Reclamation is weak-reference
    asynchronous, so entries still seen after one Python and one JVM GC
    pass emit a UserWarning (shown in pytest's warnings summary) rather
    than failing: a hard assertion here flaked ~1/150 tests on JVM GC
    timing while catching nothing the CacheManager tier misses (no code
    path persists raw RDDs).  It does not poll: waiting out the cleaner
    cost up to 8 s per such test."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    before = _persisted_rdd_ids(spark)
    yield
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), (
        "test left CacheManager entries: operator or test called "
        ".cache()/.persist() with no unpersist path — use a lazy "
        "localCheckpoint instead (ContextCleaner-reclaimed)")
    leaked = _persisted_rdd_ids(spark) - before
    if leaked:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        leaked = _persisted_rdd_ids(spark) - before
    if leaked:
        warnings.warn(
            f"localCheckpoint storage not yet reclaimed after this test "
            f"(rdd ids {sorted(leaked)}) — ContextCleaner lag, not a "
            f".cache() leak (CacheManager verified empty)",
            UserWarning, stacklevel=2)


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
