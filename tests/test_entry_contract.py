"""Driver-contract sanity: entry() shape, queries()/oracle_sql() alignment,
and golden star-grid tile assignment through the full Spark join path."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E


def test_queries_oracle_keys_align():
    qs = E.queries()
    oracles = E.oracle_sql()
    assert len(qs) >= 20
    unknown = set(oracles) - set(qs)
    assert not unknown, f"oracles without queries: {unknown}"
    rows_only = set(qs) - set(oracles)
    # round 2: every query is oracle-checked (walk oracles + md5 LSH planes)
    assert not rows_only, rows_only


def test_fast_rows_alias_their_base_rows():
    """Each X_fast row runs X's builder against X's oracle string; the
    registry keeps all 107 names, so a row cannot fork or vanish unseen."""
    qs = E.queries()
    oracles = E.oracle_sql()
    assert len(qs) == 107
    fast = [n for n in qs if n.endswith("_fast")]
    assert sorted(fast) == ["ann_cosine_fast", "ann_ivf_fast", "ann_lsh_fast",
                            "ann_quant_fast", "near_dup_fast"]
    for name in fast:
        base = name[:-len("_fast")]
        assert qs[name] is qs[base], name
        assert oracles[name] == oracles[base], name


def test_entry_runs(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"point_id", "polygon_id", "cell_id", "lon", "lat"}


def test_approx_count_distinct_tiles(spark, sf_dir):
    """approx_count_distinct (HLL sketch) on the tile column: within 5% of
    exact — the cheap cardinality pass hot-cell detection uses at scale."""
    from polycheck_spark.data import synth
    from polycheck_spark.operators import pip_join as PJ
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lon, lat = synth.geocode_arith_cols(F.col("doc_id"))
    tiled = PJ.assign_tiles(docs.select("doc_id", lon.alias("lon"), lat.alias("lat")),
                            res=8)
    exact = tiled.select(F.countDistinct("cell_id")).collect()[0][0]
    approx = tiled.select(F.approx_count_distinct("cell_id", rsd=0.02)).collect()[0][0]
    assert abs(approx - exact) / exact < 0.05


def test_star_grid_exact_through_spark_join(spark):
    """The reference's own golden workload (200x200 grid vs star8,
    tests/test_contains.py:70-73) through the DISTRIBUTED join path:
    the set of points assigned to the star must equal the oracle's."""
    from polycheck_spark.data.polygons import GOLDEN_POLYGONS
    from polycheck_spark.operators import pip_join as PJ
    from polycheck_spark.geo.kernel import contains

    dots = np.linspace(-8, 8, 200)
    xs, ys = np.meshgrid(dots, dots, indexing="xy")
    pts = np.stack([xs.ravel(), ys.ravel()], axis=1)
    expected_mask = contains(GOLDEN_POLYGONS["star8"], pts).astype(bool)
    expected_ids = set(np.flatnonzero(expected_mask).tolist())

    layer = [{"polygon_id": 1, "name": "star8",
              "vertices": GOLDEN_POLYGONS["star8"]}]
    df = spark.createDataFrame(
        [(int(i), float(p[0]), float(p[1])) for i, p in enumerate(pts)],
        "point_id long, lon double, lat double")
    joined = PJ.pip_join(spark, df, layer, key_col="point_id")
    got_ids = {r["point_id"] for r in joined.select("point_id").collect()}
    assert got_ids == expected_ids
    assert len(got_ids) == 776  # the star's known containment count
