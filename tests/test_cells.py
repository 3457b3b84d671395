"""Property tests for the Z-order cell index."""

import numpy as np
from hypothesis import given, settings, strategies as st

from polycheck_spark.geo import cells as C


@given(st.floats(-180, 179.999), st.floats(-90, 89.999), st.integers(0, C.MAX_RES))
@settings(max_examples=200, deadline=None)
def test_roundtrip(lon, lat, res):
    cid = C.cell_id(np.array([lon]), np.array([lat]), res)
    ix, iy, r = C.decode(cid)
    ex, ey = C.lonlat_to_ixiy(np.array([lon]), np.array([lat]), res)
    assert r[0] == res and ix[0] == ex[0] and iy[0] == ey[0]
    assert cid[0] >= 0


@given(st.floats(-180, 179.999), st.floats(-90, 89.999), st.integers(1, C.MAX_RES))
@settings(max_examples=100, deadline=None)
def test_parent_consistency(lon, lat, res):
    """A point's cell at res-1 is the parent of its cell at res."""
    lon_a, lat_a = np.array([lon]), np.array([lat])
    fine = C.cell_id(lon_a, lat_a, res)
    coarse = C.cell_id(lon_a, lat_a, res - 1)
    assert C.parent(fine)[0] == coarse[0]
    assert fine[0] in set(C.children(coarse).ravel().tolist())


def test_cells_covering_bbox_contains_inner_points():
    res = 8
    cover = set(C.cells_covering_bbox(-10.0, -5.0, 10.0, 5.0, res).tolist())
    for lon, lat in [(-10, -5), (10, 5), (0, 0), (9.99, 4.99), (-9.99, 0.1)]:
        cid = int(C.cell_id(np.array([float(lon)]), np.array([float(lat)]), res)[0])
        assert cid in cover, (lon, lat)


def test_z_order_locality():
    """Nearby points at the same res share long cell-id prefixes (sorting by
    cell_id clusters neighbors — the property partition pruning relies on)."""
    a = int(C.cell_id(np.array([13.40]), np.array([52.50]), 20)[0])
    b = int(C.cell_id(np.array([13.41]), np.array([52.51]), 20)[0])
    far = int(C.cell_id(np.array([-70.0]), np.array([-30.0]), 20)[0])
    assert abs(a - b) < abs(a - far)


def test_sql_and_column_twins_match_numpy(spark):
    import duckdb
    from pyspark.sql import functions as F
    lons = [-179.99, -73.9, 0.0, 0.5, 13.4, 116.375, 179.0]
    lats = [-89.9, 40.75, 0.0, 0.25, 52.5, 39.9375, 89.0]
    res = 12
    expected = C.cell_id(np.array(lons), np.array(lats), res).tolist()

    df = spark.createDataFrame(list(zip(lons, lats)), "lon double, lat double")
    got_spark = [r[0] for r in df.select(C.cell_id_col(F.col("lon"), F.col("lat"), res)).collect()]
    assert got_spark == expected

    sql = f"SELECT {C.cell_id_sql('lon', 'lat', res)} FROM pts ORDER BY rowid"
    con = duckdb.connect()
    con.execute("CREATE TABLE pts(lon DOUBLE, lat DOUBLE)")
    con.executemany("INSERT INTO pts VALUES (?, ?)", list(zip(lons, lats)))
    got_sql = [r[0] for r in con.execute(sql).fetchall()]
    assert got_sql == expected


def test_parent_col_and_sql_match_numpy(spark):
    """Morton-truncation parent (Column + SQL) == decode/shift/re-encode."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F
    rng = np.random.RandomState(7)
    res, pres = 12, 5
    n = 1 << res
    ix = rng.randint(0, n, 200).astype(np.int64)
    iy = rng.randint(0, n, 200).astype(np.int64)
    cids = C.encode(ix, iy, res)
    exp = cids
    for _ in range(res - pres):
        exp = C.parent(exp)
    exp = exp.tolist()
    df = spark.createDataFrame([(int(c),) for c in cids], "cid long")
    got = [r["p"] for r in
           df.select(C.parent_col(F.col("cid"), res, pres).alias("p")).collect()]
    assert got == exp
    vals = ", ".join(f"({int(c)})" for c in cids)
    sql = (f"SELECT {C.parent_sql('cid', res, pres)} AS p "
           f"FROM (VALUES {vals}) t(cid)")
    assert [r[0] for r in duckdb.sql(sql).fetchall()] == exp
    # nesting invariant: every child of a parent maps back to it
    some = C.children(cids[:10])
    for row, par in zip(some, cids[:10]):
        back = C.parent(row)
        assert (back == par).all()
