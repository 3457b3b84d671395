"""Distributed-build-side spatial join (pip_join_df) vs the broadcast path."""

import numpy as np
from pyspark.sql import functions as F, types as T

from polycheck_spark.data import synth
from polycheck_spark.data.polygons import default_query_layer, synthetic_layer
from polycheck_spark.operators import pip_join as PJ


def _layer_df(spark, layer):
    rows = [(p["polygon_id"],
             [float(np.float32(x)) for x, _ in p["vertices"]],
             [float(np.float32(y)) for _, y in p["vertices"]]) for p in layer]
    schema = T.StructType([
        T.StructField("polygon_id", T.LongType()),
        T.StructField("xs", T.ArrayType(T.FloatType())),
        T.StructField("ys", T.ArrayType(T.FloatType())),
    ])
    return spark.createDataFrame(rows, schema)


def test_pip_join_df_equals_broadcast_path(spark):
    pages = synth.geocoded_pages(spark, 3000, partitions=8)
    layer = default_query_layer()
    exp = sorted((r["url"], r["polygon_id"]) for r in
                 PJ.pip_join(spark, pages, layer)
                 .select("url", "polygon_id").collect())
    got_df = PJ.pip_join_df(pages, _layer_df(spark, layer))
    got = sorted((r["url"], r["polygon_id"])
                 for r in got_df.select("url", "polygon_id").collect())
    assert got == exp and len(got) > 0


def test_pip_join_df_larger_layer(spark):
    """300-polygon synthetic layer, shuffle path, vs per-point kernel oracle."""
    from polycheck_spark.data.polygons import layer_to_csr
    from polycheck_spark.geo.kernel import contains_csr
    layer = synthetic_layer(num_polygons=300, seed=5, base_radius=6.0)
    pages = synth.geocoded_pages(spark, 800)
    got = sorted((r["url"], r["polygon_id"]) for r in
                 PJ.pip_join_df(pages, _layer_df(spark, layer))
                 .select("url", "polygon_id").collect())

    rows = pages.select("url", "lon", "lat").collect()
    verts, offsets, ids = layer_to_csr(layer)
    pts = np.array([[r["lon"], r["lat"]] for r in rows])
    exp = []
    for pi, pid in enumerate(ids):
        mask = contains_csr(verts, offsets, np.full(len(pts), pi), pts) > 0
        exp.extend((rows[j]["url"], int(pid)) for j in np.flatnonzero(mask))
    assert got == sorted(exp)


def test_tile_rollup_pyramid_consistency(spark, sf_dir):
    """Every pyramid level must (a) sum to the point count and (b) equal a
    direct aggregation at that resolution — cascaded Morton-parent rollup
    introduces no drift."""
    import __spark_entry__ as E
    from polycheck_spark.operators import pip_join as PJ
    from pyspark.sql import functions as F
    pts = E._docs_points(spark, sf_dir).localCheckpoint()
    n = pts.count()
    out = PJ.tile_rollup(pts, res_fine=9, res_coarse=3).localCheckpoint()
    levels = {r["res"] for r in out.select("res").distinct().collect()}
    assert levels == set(range(3, 10))
    for r in (3, 6, 9):
        lvl = out.filter(F.col("res") == r)
        assert lvl.agg(F.sum("n_docs")).collect()[0][0] == n
        direct = (PJ.assign_tiles(pts, res=r).groupBy("cell_id")
                  .agg(F.count(F.lit(1)).alias("n_docs")))
        got = sorted((x["cell_id"], x["n_docs"]) for x in lvl.collect())
        exp = sorted((x["cell_id"], x["n_docs"]) for x in direct.collect())
        assert got == exp


def test_tile_rollup_scans_points_once(spark):
    """The pyramid must NOT re-read the source per level (the linear
    explode-ancestors plan guarantees one pass by construction; a naive
    per-level union would rescan once per level). Counted with an
    accumulator on an RDD-backed source: exactly n row-reads, not
    n * levels."""
    from pyspark.sql import types as T
    from polycheck_spark.operators import pip_join as PJ
    n = 1000
    rows = [(i, float((i * 37) % 360 - 180), float((i * 53) % 180 - 90))
            for i in range(n)]
    acc = spark.sparkContext.accumulator(0)

    def counting(it):
        for r in it:
            acc.add(1)
            yield r

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("lon", T.DoubleType()),
                           T.StructField("lat", T.DoubleType())])
    src = spark.createDataFrame(rows, schema).rdd.mapPartitions(counting).toDF(schema)
    out = PJ.tile_rollup(src, res_fine=8, res_coarse=4)
    total = out.count()
    assert total > 0
    assert acc.value == n, f"source rows read {acc.value} times, expected {n}"


def test_tile_rollup_leaves_nothing_persisted(spark):
    """tile_rollup is a lazy linear plan: after the caller's action
    completes, no RDD may remain persisted (the r3 cached-cascade held
    every pyramid level in executor memory with no unpersist point)."""
    from pyspark.sql import functions as F
    from polycheck_spark.operators import pip_join as PJ
    def persisted_ids():
        # other tests share this session (localCheckpoints linger until
        # GC), so assert rollup adds NOTHING, not global emptiness
        it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
        out = set()
        while it.hasNext():
            out.add(it.next())
        return out

    before = persisted_ids()
    pts = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 37, F.lit(360)) - 180).cast("double").alias("lon"),
        (F.pmod(F.col("id") * 53, F.lit(180)) - 90).cast("double").alias("lat"))
    assert PJ.tile_rollup(pts, res_fine=10, res_coarse=4).count() > 0
    added = persisted_ids() - before
    assert not added, added


def test_detect_hot_cells_scans_sample_once(spark):
    """The hot-cell pre-pass must read the sample ONCE: the total comes from
    a window sum over the per-cell aggregate, not a second sampled.count()
    scan (r4 review finding — at 10^12 rows the sample scan IS the cost).
    Counted with an accumulator source; also pins that the skewed cell is
    still detected and a uniform spread yields none."""
    from pyspark.sql import types as T
    n = 2000
    # 60% of points in one spot -> exactly one hot cell at res 4
    rows = [(i, 10.0, 10.0) if i % 5 < 3 else
            (i, float((i * 37) % 360 - 180), float((i * 53) % 180 - 90))
            for i in range(n)]
    acc = spark.sparkContext.accumulator(0)

    def counting(it):
        for r in it:
            acc.add(1)
            yield r

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("lon", T.DoubleType()),
                           T.StructField("lat", T.DoubleType())])
    src = spark.createDataFrame(rows, schema).rdd.mapPartitions(counting).toDF(schema)
    hot = PJ.detect_hot_cells(src, 4, sample_frac=1.0, threshold_frac=0.3)
    assert len(hot) == 1
    assert acc.value == n, f"sample rows read {acc.value} times, expected {n}"


def test_tile_smooth_matches_bruteforce(spark):
    import numpy as np
    from polycheck_spark.geo import cells as C
    from polycheck_spark.operators.pip_join import tile_smooth
    res = 3
    n = 1 << res
    rng = np.random.RandomState(11)
    lon = rng.uniform(-180, 180, 400)
    lat = rng.uniform(-90, 90, 400)
    pts = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lon, lat)],
        "lon double, lat double")
    got = {(r["ix"], r["iy"]): (r["n_docs"], r["n_docs_3x3"])
           for r in tile_smooth(pts, res).collect()}
    ix, iy = C.lonlat_to_ixiy(lon, lat, res)
    grid = np.zeros((n, n), dtype=np.int64)
    np.add.at(grid, (ix, iy), 1)
    occupied = 0
    for gx in range(n):
        for gy in range(n):
            if grid[gx, gy] == 0:
                assert (gx, gy) not in got  # empty cells emit nothing
                continue
            occupied += 1
            sm = grid[max(0, gx-1):gx+2, max(0, gy-1):gy+2].sum()
            assert got[(gx, gy)] == (grid[gx, gy], sm)
    assert len(got) == occupied


def test_tile_smooth_shuffles_points_once(spark):
    """The raw points relation must feed exactly ONE exchange: every
    post-aggregation step (scatter, re-agg, join) runs on the per-cell
    relation. Counting scans: the points appear once in the plan."""
    from polycheck_spark.operators.pip_join import tile_smooth
    pts = spark.range(1000).selectExpr(
        "cast(id % 360 - 180 as double) as lon",
        "cast(id % 180 - 90 as double) as lat")
    plan = tile_smooth(pts, 4)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Range (0, 1000") == 1
