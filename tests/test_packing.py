"""Sequence packing: the chunk-mode closed form and its plan shape."""

from polycheck_spark.operators import packing as PK


def _df(spark, rows):
    return spark.createDataFrame(rows, "lang string, doc_id long, n_tokens int")


ROWS = [("en", 1, 100), ("en", 2, 900), ("en", 3, 30), ("en", 4, 1200),
        ("en", 5, 0), ("en", 6, 2500), ("en", 7, 10),
        ("de", 10, 1024), ("de", 11, 1024), ("de", 12, 1)]


def test_pack_chunks_offsets_and_straddles(spark):
    got = {r["doc_id"]: r for r in
           PK.pack_chunks(_df(spark, ROWS), 1024).collect()}
    # en stream offsets: 0, 100, 1000, 1030, 2230, 2230, 4730
    assert got[1]["start_off"] == 0 and got[1]["bin_id"] == 0
    assert got[2]["start_off"] == 100 and not got[2]["straddles"]
    assert got[3]["start_off"] == 1000  # last token at 1029 -> crosses 1024
    assert got[3]["straddles"] and got[3]["end_bin"] == 1
    assert got[4]["start_off"] == 1030 and got[4]["straddles"]
    # zero-token doc: sits at its offset, never straddles
    assert got[5]["n_tokens"] == 0 and not got[5]["straddles"]
    # oversized doc crosses multiple cuts
    assert got[6]["end_bin"] - got[6]["bin_id"] >= 2
    # de group is an independent stream: exact 1024 fits bin 0 exactly
    assert got[10]["bin_id"] == 0 and not got[10]["straddles"]
    assert got[11]["start_off"] == 1024 and got[11]["bin_id"] == 1


def test_pack_chunks_plan_is_python_free_single_shuffle(spark):
    plan = (PK.pack_chunks(_df(spark, ROWS), 1024)
            ._jdf.queryExecution().executedPlan().toString())
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, marker
    assert plan.count("Exchange") == 1, plan  # one shuffle: the group window
