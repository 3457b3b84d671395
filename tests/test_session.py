"""``session.local_frame``: driver rows -> a JVM LocalRelation that reads
back exactly as ``spark.createDataFrame`` over the same rows."""

import pytest
from pyspark.sql import types as T

from polycheck_spark.session import local_frame

# one case per column type the program's driver-constant sites use
CASES = {
    "scalars": (
        [(1, 2**40, 0.5, True, "a"), (-7, -(2**62), -1e300, False, ""),
         (None, None, None, None, None)],
        "i int, l long, d double, b boolean, s string"),
    # doubles float32 cannot hold exactly, incl. a tie (2^24 + 1 rounds to
    # even) and one that rounds up (2^24 + 3)
    "float": (
        [(0.1,), (1.0 / 3.0,), (16777217.0,), (16777219.0,), (3.4e38,), (None,)],
        "f float"),
    "arrays": (
        [([0.1, 1.0, 16777217.0], [0.1, 1.0 / 3.0]), ([], []), (None, None)],
        "xs array<float>, v array<double>"),
    "empty_not_null": (
        [],
        T.StructType([T.StructField("query_id", T.LongType()),
                      T.StructField("target_id", T.LongType()),
                      T.StructField("rank", T.IntegerType(), False)])),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_equals_create_dataframe(spark, case):
    rows, schema = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
