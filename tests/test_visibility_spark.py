"""Spark visibility/sensor/scan pipelines vs the exact local kernels and the
reference's closed-form fixtures (FIXTURES.md §A3-A5)."""

import math

import numpy as np
import pytest

from polycheck_spark.geo import kernel as K
from polycheck_spark.data.polygons import GOLDEN_POLYGONS
from polycheck_spark.operators import visibility as V
from polycheck_spark.operators.scan import faux_scan_df


def _vis10():
    g = np.zeros((10, 10), dtype=np.float32)
    g[4:6, 4:6] = 0.8
    g[2, 7] = 1.0
    return g


def test_visibility_df_matches_local(spark):
    grid = _vis10()
    ends = [(9, 9), (5, 5), (7, 2), (1, 1), (3, 8)]
    ends_df = spark.createDataFrame(ends, "ex int, ey int")
    got = V.visibility_df(spark, grid, (0, 0), ends_df).collect()
    for r in got:
        assert r["vis"] == pytest.approx(
            K.line_observation(grid, 0, 0, r["ex"], r["ey"]), abs=1e-7)
    raster = V.scatter_to_raster(
        spark, V.visibility_df(spark, grid, (0, 0), ends_df), 10, 10)
    local = V.visibility_local(grid, np.array([0, 0]), np.array(ends))
    for r in raster.collect():
        assert r["vis"] == pytest.approx(local[r["row"], r["col"]], abs=1e-7)


def test_visibility_oob_ends_defined_zero(spark):
    """Out-of-grid endpoints (reference UB) get the defined value 0.0 and
    never reach the walk kernel; an out-of-grid start raises."""
    grid = _vis10()
    ends_df = spark.createDataFrame(
        [(9, 9), (-1, 5), (10, 0), (3, -2), (0, 10)], "ex int, ey int")
    got = {(r["ex"], r["ey"]): r["vis"]
           for r in V.visibility_df(spark, grid, (0, 0), ends_df).collect()}
    assert got[(9, 9)] > 0.0
    assert all(got[e] == 0.0 for e in [(-1, 5), (10, 0), (3, -2), (0, 10)])
    with pytest.raises(ValueError, match="outside"):
        V.visibility_df(spark, grid, (12, 0), ends_df)
    starts_df = spark.createDataFrame([(0, 0), (-3, 4)], "sx int, sy int")
    got2 = {(r["sx"], r["sy"], r["ex"], r["ey"]): r["vis"]
            for r in V.visibility_from_region_df(
                spark, grid, starts_df, ends_df).collect()}
    assert all(v == 0.0 for (sx, sy, ex, ey), v in got2.items()
               if sx == -3 or (ex, ey) != (9, 9))
    assert got2[(0, 0, 9, 9)] > 0.0


def test_region_visibility_matches_local(spark):
    """reg8 fixture: 8x8, [3:5,3:5]=0.5, 3 starts x 4 ends."""
    g = np.zeros((8, 8), dtype=np.float32)
    g[3:5, 3:5] = 0.5
    starts = [(0, 0), (7, 0), (0, 7)]
    ends = [(7, 7), (4, 4), (2, 6), (6, 2)]
    starts_df = spark.createDataFrame(starts, "sx int, sy int")
    ends_df = spark.createDataFrame(ends, "ex int, ey int")
    got = {(r["sx"], r["sy"], r["ex"], r["ey"]): r["vis"]
           for r in V.visibility_from_region_df(spark, g, starts_df, ends_df).collect()}
    local = V.visibility_from_region_local(g, starts, ends)
    for si, s in enumerate(starts):
        for ei, e in enumerate(ends):
            assert got[(s[0], s[1], e[0], e[1])] == pytest.approx(
                local[si * len(ends) + ei], abs=1e-7)


def test_region_visibility_max_range_step_metric(spark):
    """max_range counts Bresenham STEPS, not Euclidean distance: the diagonal
    (0,0)->(4,4) takes 4 steps, so mr=5 must leave it visible (regression for
    a Column gate that wrongly used Euclid ~5.66)."""
    g = np.zeros((10, 10), dtype=np.float32)
    starts = spark.createDataFrame([(0, 0)], "sx int, sy int")
    ends = spark.createDataFrame([(4, 4), (9, 9), (0, 7)], "ex int, ey int")
    got = {(r["ex"], r["ey"]): r["vis"]
           for r in V.visibility_from_region_df(spark, g, starts, ends, max_range=5).collect()}
    for (ex, ey), v in got.items():
        assert v == pytest.approx(K.line_observation(g, 0, 0, ex, ey, 5), abs=1e-7), (ex, ey)
    assert got[(4, 4)] == 1.0   # 4 steps <= 5
    assert got[(9, 9)] == 0.0   # 9 steps > 5
    assert got[(0, 7)] == 0.0   # 7 steps > 5


def test_real_region_visibility_matches_local(spark):
    """real6 fixture: 6x6, [2:4,2:4]=0.7, origin (0,0), res 1.0."""
    g = np.zeros((6, 6), dtype=np.float32)
    g[2:4, 2:4] = 0.7
    starts = [(0.5, 0.5), (5.5, 0.5), (0.5, 5.5)]
    ends = [(5.5, 5.5), (3.5, 3.5), (2.5, 4.5)]
    starts_df = spark.createDataFrame(starts, "sx double, sy double")
    ends_df = spark.createDataFrame(ends, "ex double, ey double")
    got = {(r["sx"], r["sy"], r["ex"], r["ey"]): r["vis"]
           for r in V.visibility_from_region_df(
               spark, g, starts_df, ends_df,
               origin=(0.0, 0.0), resolution=1.0).collect()}
    local = V.visibility_from_real_region_local(g, (0.0, 0.0), 1.0, starts, ends)
    for si, s in enumerate(starts):
        for ei, e in enumerate(ends):
            assert got[(s[0], s[1], e[0], e[1])] == pytest.approx(
                local[si * len(ends) + ei], abs=1e-7)


def _sensor_df(spark, sensors):
    return spark.createDataFrame(
        [(i, float(s[0]), float(s[1]), float(s[2]), float(s[3]), float(s[4]))
         for i, s in enumerate(sensors)],
        "sensor_id int, x double, y double, range double, direction double, fov double")


def _collect_combined(df, h, w):
    out = np.zeros((h, w), dtype=np.float32)
    for r in df.collect():
        out[r["ey"], r["ex"]] = r["p"]
    return out


def test_sensor_zero_range_spark(spark):
    grid = np.full((7, 7), 0.25, dtype=np.float32)
    sensors = [[3.0, 4.0, 0.0, 0.8, math.pi]]
    _, combined = V.sensor_visibility_df(spark, grid, _sensor_df(spark, sensors))
    got = _collect_combined(combined, 7, 7)
    exp = np.zeros((7, 7), dtype=np.float32)
    exp[4, 3] = 1.0
    assert np.array_equal(got, exp)


def test_sensor_union_formula_spark(spark):
    """union_formula fixture: p0=0.6, p1=0.5 at (3,3) -> union 0.8."""
    grid = np.zeros((6, 6), dtype=np.float32)
    grid[3, 1] = 0.4
    grid[1, 3] = 0.5
    sensors = [[0.0, 3.0, 20.0, 0.0, 2 * math.pi],
               [3.0, 0.0, 20.0, math.pi / 2, 2 * math.pi]]
    per, combined = V.sensor_visibility_df(spark, grid, _sensor_df(spark, sensors), "union")
    per_rows = {(r["sensor_id"], r["ex"], r["ey"]): r["p"] for r in per.collect()}
    assert per_rows[(0, 3, 3)] == pytest.approx(0.6, abs=1e-6)
    assert per_rows[(1, 3, 3)] == pytest.approx(0.5, abs=1e-6)
    got = _collect_combined(combined, 6, 6)
    assert got[3, 3] == pytest.approx(0.8, abs=1e-6)
    # full-grid parity with the local pipeline
    _, local_combined = V.sensor_visibility_local(grid, sensors, "union")
    assert np.allclose(got, local_combined, atol=1e-6)


def test_sensor_product_combine_spark(spark):
    """product_coverage fixture: non-covering sensor is neutral -> 0.7."""
    grid = np.zeros((7, 7), dtype=np.float32)
    grid[3, 4] = 0.3
    sensors = [[3.0, 3.0, 5.0, 0.0, math.pi / 2],
               [0.0, 0.0, 1.0, 0.0, math.pi / 4]]
    _, combined = V.sensor_visibility_df(spark, grid, _sensor_df(spark, sensors), "product")
    got = _collect_combined(combined, 7, 7)
    assert got[3, 5] == pytest.approx(0.7, abs=1e-6)
    _, local_combined = V.sensor_visibility_local(grid, sensors, "product")
    assert np.allclose(got, local_combined, atol=1e-6)


def test_sensor_real_region_spark(spark):
    grid = np.zeros((5, 5), dtype=np.float32)
    grid[2, 2] = 0.6
    sensors = [[0.5, 2.5, 10.0, 0.0, 2 * math.pi]]
    per, combined = V.sensor_visibility_df(
        spark, grid, _sensor_df(spark, sensors), "union",
        origin=(0.0, 0.0), resolution=1.0)
    got = _collect_combined(combined, 5, 5)
    _, local_combined = V.sensor_visibility_local(
        grid, sensors, "union", origin=(0.0, 0.0), resolution=1.0)
    assert np.allclose(got, local_combined, atol=1e-6)


def test_faux_scan_df_matches_kernel(spark):
    polys = [GOLDEN_POLYGONS["triangle"], GOLDEN_POLYGONS["square2"]]
    exp_r, exp_h = K.faux_scan(polys, (0.0, 0.0), 0.0, math.pi / 180.0, 90, 10.0, 0.1)
    got = faux_scan_df(spark, polys, (0.0, 0.0), 0.0, math.pi / 180.0, 90, 10.0, 0.1) \
        .orderBy("ray_id").collect()
    assert len(got) == 90
    for i, r in enumerate(got):
        assert r["range"] == pytest.approx(float(exp_r[i]), abs=1e-6)
        assert r["hit_polygon"] == int(exp_h[i])


def test_faux_scan_df_empty_layer(spark):
    got = faux_scan_df(spark, [], (0, 0), 0.0, 0.1, 10, 5.0, 0.1).collect()
    assert all(r["range"] == -1.0 and r["hit_polygon"] == 0x7FFFFFFF for r in got)


def test_raster_lookup(spark):
    raster = spark.createDataFrame(
        [(r, c, float(r * 10 + c)) for r in range(4) for c in range(4)],
        "row int, col int, occ double")
    pts = spark.createDataFrame(
        [(1, 0.5, 0.5), (2, 3.9, 2.1), (3, -1.0, 0.0), (4, 2.0, 3.0)],
        "doc_id long, lon double, lat double")
    got = {r["doc_id"]: r["occ"]
           for r in V.raster_lookup(pts, raster, origin=(0.0, 0.0), resolution=1.0).collect()}
    assert got[1] == 0.0       # cell (0,0) -> 0*10+0
    assert got[2] == 23.0      # col 3, row 2
    assert got[3] is None      # outside
    assert got[4] == 32.0      # col 2, row 3
