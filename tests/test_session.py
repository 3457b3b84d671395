"""``session.local_frame``: driver rows -> a JVM LocalRelation that reads
back exactly as ``spark.createDataFrame`` over the same rows; and
``get_spark`` keeps the master a launcher set."""

import os
import shutil
import subprocess
import sys

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


def test_get_spark_keeps_spark_submit_master(tmp_path):
    """``spark-submit --master 'local[2]'`` on a script that calls
    ``get_spark`` with no master runs at ``local[2]`` with 2 shuffle
    partitions (the jobs' ``main()`` path), not at a hard-coded default."""
    submit = shutil.which("spark-submit")
    if submit is None:
        pytest.skip("spark-submit not on PATH")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "probe.py"
    script.write_text(
        "from polycheck_spark.session import get_spark\n"
        "s = get_spark('probe')\n"
        "print('PROBE', s.sparkContext.master,\n"
        "      s.conf.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n")
    env = dict(os.environ, PYTHONPATH=repo, PYSPARK_PYTHON=sys.executable)
    env.pop("SPARK_GRAFT_CPUS", None)
    out = subprocess.run([submit, "--master", "local[2]", str(script)],
                         capture_output=True, text=True, env=env, timeout=300)
    probe = [ln for ln in out.stdout.splitlines() if ln.startswith("PROBE")]
    assert probe == ["PROBE local[2] 2"], out.stdout[-2000:] + out.stderr[-2000:]
