"""End-to-end spatial join tests: broadcast vs partitioned vs DuckDB oracle."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from polycheck_spark.data import synth
from polycheck_spark.data.polygons import (
    default_query_layer, winding_join_sql, golden_layer_lonlat,
)
from polycheck_spark.geo import cells as C
from polycheck_spark.operators import pip_join as PJ


@pytest.fixture(scope="module")
def pages(spark):
    # eager localCheckpoint: materialized at fixture setup (so the leak
    # guard's before-set includes it) and ContextCleaner-reclaimable
    return synth.geocoded_pages(spark, 4000, partitions=8).localCheckpoint()


@pytest.fixture(scope="module")
def layer():
    return default_query_layer()


def _rows(df):
    return sorted((r["url"], r["polygon_id"]) for r in df.select("url", "polygon_id").collect())


def test_broadcast_join_matches_duckdb_oracle(spark, sf_dir, layer):
    """Engine PIP join vs pure-SQL winding-number oracle on real testdata."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lon, lat = synth.geocode_arith_cols(F.col("doc_id"))
    pts = docs.select("doc_id", lon.alias("lon"), lat.alias("lat"))
    got = PJ.pip_join(spark, pts, layer, key_col="doc_id")
    got_rows = sorted((r["doc_id"], r["polygon_id"])
                      for r in got.select("doc_id", "polygon_id").collect())

    lon_sql, lat_sql = synth.geocode_arith_sql("doc_id")
    pts_cte = (f"SELECT doc_id, {lon_sql} AS lon, {lat_sql} AS lat "
               f"FROM read_parquet('{sf_dir}/documents.parquet')")
    oracle = winding_join_sql(pts_cte, layer)
    exp_rows = sorted(duckdb.sql(oracle).fetchall())
    assert got_rows == exp_rows
    assert len(got_rows) > 0


def test_partitioned_equals_broadcast(spark, pages, layer):
    a = PJ.pip_join(spark, pages, layer, mode="broadcast")
    b = PJ.pip_join(spark, pages, layer, mode="partitioned")
    assert _rows(a) == _rows(b)


def test_large_polygon_ids_join_like_small_ones(spark, pages, layer):
    """The PIP UDF's id lookup is sized by the layer, not by the largest id:
    a dense table indexed by ids near 2**40 would need 8 TiB."""
    shift = 2 ** 40
    big = [dict(p, polygon_id=p["polygon_id"] + shift) for p in layer]
    got = _rows(PJ.pip_join(spark, pages, big))
    exp = [(u, pid + shift) for u, pid in _rows(PJ.pip_join(spark, pages, layer))]
    assert got == exp and got


def test_duplicate_polygon_ids_rejected(spark, pages, layer):
    """Two polygons under one id are refused when the plan is built (the
    DuckDB oracle would sum both polygons' edges under that id)."""
    dup = layer + [dict(layer[1], polygon_id=layer[0]["polygon_id"])]
    with pytest.raises(ValueError, match="duplicate polygon_id"):
        PJ.pip_join(spark, pages, dup)


def test_salted_partitioned_preserves_multiset(spark, pages, layer):
    res = PJ.choose_cover_res(layer)
    hot = PJ.detect_hot_cells(pages, res, sample_frac=0.5, threshold_frac=0.02)
    assert hot, "generator must produce hot cells for the skew path"
    a = PJ.pip_join(spark, pages, layer, mode="partitioned", hot_cells=hot)
    b = PJ.pip_join(spark, pages, layer, mode="broadcast")
    assert _rows(a) == _rows(b)


def test_join_hits_golden_polygons(spark, pages):
    """The hot spot near (0.5, 0.25) lands inside star8 and unit_square."""
    got = PJ.pip_join(spark, pages, golden_layer_lonlat())
    by_poly = dict(got.groupBy("polygon_id").count().collect() and
                   [(r["polygon_id"], r["count"]) for r in got.groupBy("polygon_id").count().collect()])
    assert by_poly.get(1, 0) > 0, "star8 should contain hot-spot pages"
    assert by_poly.get(2, 0) > 0, "unit_square should contain hot-spot pages"


def test_text_byte_identical_through_join(spark, pages, layer):
    """north_rule invariant: extracted text is byte-identical per url through
    every stage (checksum of text before vs after the join)."""
    pre = {r["url"]: r["h"] for r in
           pages.select("url", F.sha2(F.col("text"), 256).alias("h")).collect()}
    joined = PJ.pip_join(spark, pages, layer)
    post = joined.select("url", F.sha2(F.col("text"), 256).alias("h")).collect()
    assert len(post) > 0
    for r in post:
        assert pre[r["url"]] == r["h"]


def test_tile_assignment_matches_numpy(spark, pages):
    sample = pages.limit(200)
    got = PJ.assign_tiles(sample, res=12).select("lon", "lat", "cell_id").collect()
    lons = np.array([r["lon"] for r in got])
    lats = np.array([r["lat"] for r in got])
    expected = C.cell_id(lons, lats, 12)
    assert [r["cell_id"] for r in got] == expected.tolist()


def test_bbox_prefilter_lossless(spark, pages, layer):
    """cell-join + bbox prefilter + PIP == brute-force PIP over the full cross
    product (prefilters discard only true negatives)."""
    from polycheck_spark.data.polygons import layer_to_csr
    from polycheck_spark.geo.kernel import contains_csr
    sample = pages.limit(300).select("url", "lon", "lat").collect()
    verts, offsets, ids = layer_to_csr(layer)
    expected = set()
    pts = np.array([[r["lon"], r["lat"]] for r in sample])
    for pi, pid in enumerate(ids):
        idx = np.full(len(pts), pi)
        mask = contains_csr(verts, offsets, idx, pts) > 0
        for j in np.flatnonzero(mask):
            expected.add((sample[j]["url"], int(pid)))
    urls = [r["url"] for r in sample]
    sample_df = synth.geocoded_pages(spark, 4000).filter(F.col("url").isin(urls))
    got = set(_rows(PJ.pip_join(spark, sample_df, layer)))
    assert got == expected


def _bruteforce_regions(cells, min_count):
    """Pure-Python reference: count -> gate -> BFS over 8-neighbors."""
    from collections import Counter, deque
    counts = Counter(cells)
    hot = {c for c, n in counts.items() if n >= min_count}
    seen, regions = set(), []
    for start in hot:
        if start in seen:
            continue
        comp, dq = [], deque([start])
        seen.add(start)
        while dq:
            cx, cy = dq.popleft()
            comp.append((cx, cy))
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    nb = (cx + dx, cy + dy)
                    if nb in hot and nb not in seen:
                        seen.add(nb)
                        dq.append(nb)
        regions.append(comp)
    out = {}
    for comp in regions:
        key = min(c[0] * 256 + c[1] for c in comp)
        xs = [c[0] for c in comp]
        ys = [c[1] for c in comp]
        out[key] = (len(comp), sum(counts[c] for c in comp),
                    min(xs), max(xs), min(ys), max(ys))
    return out


def test_hotspot_regions_vs_bruteforce(spark):
    """Planted grid: an L-shaped blob (diagonal touch included), an isolated
    hot cell (singleton region), and sub-gate noise — Spark regions equal
    the BFS reference exactly."""
    res, n = 8, 256
    cells = (
        # L-shaped blob: horizontal arm (10..13, 20) + vertical arm via the
        # DIAGONAL touch (14, 21)-(13, 20) then (14, 22)
        [(x, 20) for x in range(10, 14) for _ in range(4)]
        + [(14, 21)] * 5 + [(14, 22)] * 4
        # isolated hot cell far away
        + [(100, 100)] * 7
        # noise below the gate, adjacent to the blob (must not join it)
        + [(9, 20)] * 3 + [(15, 23)] * 2
    )
    rows = [(float(-180.0 + (cx + 0.5) * (360.0 / n)),
             float(-90.0 + (cy + 0.5) * (180.0 / n))) for cx, cy in cells]
    pts = spark.createDataFrame(rows, "lon double, lat double")
    got = {r["region"]: (r["n_cells"], r["n_docs"], r["ix_min"], r["ix_max"],
                         r["iy_min"], r["iy_max"])
           for r in PJ.hotspot_regions(pts, res, 4).collect()}
    assert got == _bruteforce_regions(cells, 4)
    # structure: the L-blob merged across the diagonal into ONE region
    assert got[10 * 256 + 20][0] == 6
    # the isolated cell is a singleton region
    assert got[100 * 256 + 100] == (1, 7, 100, 100, 100, 100)


def test_hotspot_regions_validation(spark):
    pts = spark.createDataFrame([(0.0, 0.0)], "lon double, lat double")
    with pytest.raises(ValueError):
        PJ.hotspot_regions(pts, 99, 4)
    with pytest.raises(ValueError):
        PJ.hotspot_regions(pts, 8, 0)


def test_hotspot_regions_random_differential(spark):
    """Seeded random grid occupancy (heavy multiplicity skew, adjacent and
    isolated hot mass, sub-gate noise everywhere) against the BFS
    reference — exact equality of the full region table."""
    rng = np.random.RandomState(4821)
    n = 256
    cells = []
    for _ in range(400):
        cx, cy = int(rng.randint(0, 24)), int(rng.randint(0, 24))
        cells.extend([(cx, cy)] * int(rng.randint(1, 7)))
    rows = [(float(-180.0 + (cx + 0.5) * (360.0 / n)),
             float(-90.0 + (cy + 0.5) * (180.0 / n))) for cx, cy in cells]
    pts = spark.createDataFrame(rows, "lon double, lat double")
    got = {r["region"]: (r["n_cells"], r["n_docs"], r["ix_min"], r["ix_max"],
                         r["iy_min"], r["iy_max"])
           for r in PJ.hotspot_regions(pts, 8, 5).collect()}
    exp = _bruteforce_regions(cells, 5)
    assert got == exp
    # the seed must actually exercise structure: multi-cell regions AND
    # singletons both present
    sizes = {v[0] for v in exp.values()}
    assert 1 in sizes and max(sizes) >= 3 and len(exp) >= 5
