"""Point-in-polygon spatial join + tile assignment (the flagship operator).

Relational shape (SURVEY.md §2.2): an index nested-loop join —

    pages (billions of rows)                 polygon layer (small/medium)
      |  geocode -> (lon, lat)                  |  bbox -> covering cells
      |  cell_id @ cover res  <--- equi-join ---+  (cell_id, polygon_id)
      |        [broadcast build side, or shuffle join + salting when large]
      v
    bbox refine (pure Column exprs, whole-stage codegen)
      v
    exact winding-number PIP refine (Arrow-batched pandas UDF over ONLY
    (lon, lat, polygon_id) — wide page columns never cross into Python)

Scale notes (design target 10^12 pages, 1000 executors):
* The probe side is never shuffled in broadcast mode: one scan, one filter.
* The build side is computed on the driver and enters Spark through
  ``session.local_frame``, the one path for driver constants: a JVM
  ``LocalTableScan``, so no Python task runs to unpickle it.
* The equi-join key is the Z-order cell at a cover resolution chosen so each
  polygon expands to <= MAX_COVER_CELLS cells; candidate fan-out per page is
  bounded by polygons overlapping its cell (bbox refine then drops most).
* Hot cells (geocode artifacts like null island) are salted deterministically:
  build rows for hot cells are replicated DEFAULT_N_SALT times, probe rows
  pick xxhash64(url) % DEFAULT_N_SALT — row multiset is provably unchanged
  (tested).
* The exact kernel is float32-identical to the reference
  (/root/reference/polycheck/polycheck.py:203-247); bbox and cell prefilters
  are lossless (cells cover the bbox, the bbox covers the polygon).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from polycheck_spark.geo import cells as C
from polycheck_spark.geo.kernel import contains_csr
from polycheck_spark.data.polygons import layer_to_csr
from polycheck_spark.session import local_frame

DEFAULT_TILE_RES = 12          # ~10 km tiles for tile assignment
MAX_COVER_CELLS = 64           # per-polygon covering-cell budget
DEFAULT_N_SALT = 8


def assign_tiles(pages: DataFrame, res: int = DEFAULT_TILE_RES) -> DataFrame:
    """Add the Z-order ``cell_id`` tile column (JVM expression, no UDF)."""
    return C.with_cell_id(pages, F.col("lon"), F.col("lat"), res)


def choose_cover_res(layer: list[dict]) -> int:
    """Finest resolution at which every polygon's bbox covers <=
    MAX_COVER_CELLS cells."""
    res = C.MAX_RES
    for p in layer:
        xs = [x for x, _ in p["vertices"]]
        ys = [y for _, y in p["vertices"]]
        while (res > 0 and C.num_bbox_cells(min(xs), min(ys), max(xs), max(ys), res)
               > MAX_COVER_CELLS):
            res -= 1
    return res


def _build_side_df(spark, layer: list[dict], res: int) -> "DataFrame":
    """One flat build-side table (cell_id, polygon_id, bbox) — denormalized on
    the driver and held by the JVM as a ``local_frame``, so the build plan
    is a single ``LocalTableScan``: no join, no shuffle, no Python stage."""
    rows = []
    for p in layer:
        xs = [float(np.float32(x)) for x, _ in p["vertices"]]
        ys = [float(np.float32(y)) for _, y in p["vertices"]]
        bbox = (min(xs), min(ys), max(xs), max(ys))
        for cid in C.cells_covering_bbox(*bbox, res):
            rows.append((int(cid), p["polygon_id"], *bbox))
    return local_frame(
        spark, rows, "cell_id long, polygon_id long, xmin double, ymin double, "
                     "xmax double, ymax double")


def _pip_udf(spark, layer: list[dict]):
    """Arrow-batched predicate: (lon, lat, polygon_id) -> bool.

    CSR polygon arrays travel once per executor via sc.broadcast — the Spark
    analog of the reference's single host->device upload (polycheck.py:1341-1366).
    Polygons are packed in id order, so a polygon's CSR index is the
    ``searchsorted`` position of its id: the broadcast is O(layer) whatever
    the id values.  Ids must be unique (the oracle would sum the edges of
    two polygons sharing one).
    """
    verts, offsets, ids = layer_to_csr(sorted(layer, key=lambda p: p["polygon_id"]))
    if (np.diff(ids) == 0).any():
        raise ValueError("pip_join: duplicate polygon_id in layer")
    bc = spark.sparkContext.broadcast((verts, offsets, ids))

    @F.pandas_udf(T.BooleanType())
    def pip(lon: pd.Series, lat: pd.Series, polygon_id: pd.Series) -> pd.Series:
        v, o, sorted_ids = bc.value
        pts = np.column_stack([lon.to_numpy(np.float64), lat.to_numpy(np.float64)])
        idx = np.searchsorted(sorted_ids, polygon_id.to_numpy(np.int64))
        return pd.Series(contains_csr(v, o, idx, pts) > 0)

    return pip


def _bbox_refine(df: DataFrame) -> DataFrame:
    return df.filter(
        (F.col("lon") >= F.col("xmin")) & (F.col("lon") <= F.col("xmax"))
        & (F.col("lat") >= F.col("ymin")) & (F.col("lat") <= F.col("ymax"))
    )


def pip_join(spark, pages: DataFrame, layer: list[dict], *,
             mode: str = "broadcast", hot_cells: list[int] | None = None,
             key_col: str = "url") -> DataFrame:
    """Join pages to every polygon containing them.

    Returns the pages columns + ``polygon_id`` + ``cell_id`` (cover res).
    ``mode='broadcast'``: build side broadcast (the common case — polygon
    layers are small). ``mode='partitioned'``: shuffle equi-join on cell_id
    with optional deterministic salting of ``hot_cells`` (DEFAULT_N_SALT
    ways).  The cover resolution is :func:`choose_cover_res` of the layer.
    """
    res = choose_cover_res(layer)
    probe = C.with_cell_id(pages, F.col("lon"), F.col("lat"), res)
    if not layer:  # empty layer -> empty join result with the full schema
        return probe.withColumn("polygon_id", F.lit(0).cast("long")).filter(F.lit(False))

    base_build = _build_side_df(spark, layer, res)  # ONE construction path
    if mode == "broadcast":
        cand = probe.join(F.broadcast(base_build), "cell_id")
    elif mode == "partitioned":
        hot = sorted(set(hot_cells or []))
        if hot:
            is_hot = F.array_contains(F.array(*[F.lit(h) for h in hot]),
                                      F.col("cell_id"))
            # salt replication via Column exprs: hot cells fan out n ways
            salts = F.when(is_hot, F.sequence(F.lit(0), F.lit(DEFAULT_N_SALT - 1))
                           ).otherwise(F.array(F.lit(0)))
            # coalesce: keep the join key provably non-nullable, else Catalyst
            # pushes an isnotnull(<entire salt+cell tree>) filter below the
            # projections and re-evaluates the whole expression per row
            salt = F.coalesce(
                F.when(is_hot, F.pmod(F.xxhash64(F.col(key_col)),
                                      F.lit(DEFAULT_N_SALT)).cast("int"))
                 .otherwise(F.lit(0)),
                F.lit(0))
        else:
            salts = F.array(F.lit(0))
            salt = F.lit(0)
        build = base_build.withColumn("salt", F.explode(salts))
        probe = probe.withColumn("salt", salt)
        cand = probe.join(build, ["cell_id", "salt"]).drop("salt")
    else:
        raise ValueError(f"unknown mode {mode!r}")

    cand = _bbox_refine(cand)
    pip = _pip_udf(spark, layer)
    refined = cand.filter(pip(F.col("lon"), F.col("lat"), F.col("polygon_id")))
    return refined.drop("xmin", "ymin", "xmax", "ymax")


def pip_join_df(pages: DataFrame, polygons: DataFrame, *,
                cover_res: int = 6) -> DataFrame:
    """Fully-distributed spatial join against a polygon *DataFrame*.

    For layers too large to materialize on the driver (10^5+ polygons): the
    covering-cell expansion, the cell equi-join, the bbox refine AND the
    vertex transport all stay distributed — no driver collection anywhere.

    ``polygons``: (polygon_id LONG, xs ARRAY<FLOAT>, ys ARRAY<FLOAT>).
    Each Arrow batch CSR-packs the distinct polygons it sees and runs the
    exact float32 winding kernel — the per-batch analog of the reference's
    packed-layer upload (polycheck.py:1341-1366).

    Scale shape: shuffle equi-join on cell_id (AQE skew-split enabled);
    polygon vertices ride the build side.
    """
    polys = polygons.select(
        "polygon_id", "xs", "ys",
        F.array_min("xs").cast("double").alias("xmin"),
        F.array_min("ys").cast("double").alias("ymin"),
        F.array_max("xs").cast("double").alias("xmax"),
        F.array_max("ys").cast("double").alias("ymax"))
    ix0, iy0 = C.ixiy_cols(F.col("xmin"), F.col("ymin"), cover_res)
    ix1, iy1 = C.ixiy_cols(F.col("xmax"), F.col("ymax"), cover_res)
    cover = (polys
             .withColumn("cix", F.explode(F.sequence(ix0, ix1)))
             .withColumn("ciy", F.explode(F.sequence(iy0, iy1)))
             .withColumn("cell_id", C.encode_col(F.col("cix"), F.col("ciy"), cover_res))
             .drop("cix", "ciy"))
    probe = C.with_cell_id(pages, F.col("lon"), F.col("lat"), cover_res)
    cand = probe.join(cover, "cell_id")
    cand = _bbox_refine(cand)

    @F.pandas_udf(T.BooleanType())
    def pip(lon: pd.Series, lat: pd.Series, polygon_id: pd.Series,
            xs: pd.Series, ys: pd.Series) -> pd.Series:
        pts = np.column_stack([lon.to_numpy(np.float64), lat.to_numpy(np.float64)])
        pid = polygon_id.to_numpy(np.int64)
        # CSR-pack the batch's distinct polygons once
        uniq, inv = np.unique(pid, return_inverse=True)
        first = np.zeros(len(uniq), dtype=np.int64)
        first[inv] = np.arange(len(pid))
        from polycheck_spark.geo.kernel import pack_polygons_csr
        ragged = [np.column_stack([np.asarray(xs.iloc[i], dtype=np.float32),
                                   np.asarray(ys.iloc[i], dtype=np.float32)])
                  for i in first]
        verts, offsets = pack_polygons_csr(ragged)
        return pd.Series(contains_csr(verts, offsets, inv, pts) > 0)

    refined = cand.filter(pip(F.col("lon"), F.col("lat"), F.col("polygon_id"),
                              F.col("xs"), F.col("ys")))
    return refined.drop("xs", "ys", "xmin", "ymin", "xmax", "ymax")


def detect_hot_cells(pages: DataFrame, res: int, *,
                     sample_frac: float = 0.01,
                     threshold_frac: float = 0.01) -> list[int]:
    """Sampled heavy-hitter detection on the cell key (north_rule skew handling).

    Cells holding more than ``threshold_frac`` of the sampled pages are 'hot'.
    ONE pass over the sample: the total comes from an unpartitioned window
    SUM over the per-cell aggregate (at most 4^res tiny rows shuffle to one
    partition), not a second ``sampled.count()`` scan — at 10^12 rows with
    sample_frac ~ 1e-5 the sample scan itself is the cost, so it must not
    run twice (r4 review finding).
    """
    from pyspark.sql import Window
    counts = (C.with_cell_id(pages.sample(fraction=sample_frac, seed=42),
                             F.col("lon"), F.col("lat"), res)
              .groupBy("cell_id").count())
    rows = (counts.withColumn("total", F.sum("count").over(Window.partitionBy()))
            .filter(F.col("count") > threshold_frac * F.col("total"))
            .collect())
    return [r["cell_id"] for r in rows]


def tile_rollup(points: DataFrame, res_fine: int, res_coarse: int) -> DataFrame:
    """Multi-resolution tile pyramid: (res, cell_id, n_docs) for every level
    in [res_coarse, res_fine] — the hypertable-rollup / map-tile
    pre-aggregation pattern.

    Points are scanned and shuffled ONCE (the fine-level groupBy); then each
    fine cell explodes to its ancestor chain — (res, parent_cell) for every
    level, via the Morton parent bit-shift (cells.parent_col), pure integer
    Column expressions — and ONE second aggregation sums the pyramid.  The
    whole rollup is a single LINEAR lazy plan: two shuffles total, no union,
    no caching, nothing persisted after the action (the cached-cascade
    alternative held every level in executor memory with no safe point to
    unpersist a lazily-returned frame — an r3 review finding).  The second
    shuffle carries at most depth x 4^res_fine tiny (res, cell, count) rows
    — cell-count bounded, independent of input size — and map-side combine
    collapses it further wherever the fine aggregation's partitions are
    spatially clustered.  Counts are exact; sum-of-counts associativity
    makes the exploded rollup equal a per-level direct aggregation, which
    is exactly what the SQL oracle computes.
    """
    if not 0 <= res_coarse <= res_fine:
        raise ValueError("need 0 <= res_coarse <= res_fine")
    fine = (assign_tiles(points, res=res_fine)
            .groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_docs")))
    ancestors = F.explode(F.array(*[
        F.struct(F.lit(r).alias("res"),
                 C.parent_col(F.col("cell_id"), res_fine, r).alias("cell_id"))
        for r in range(res_fine, res_coarse - 1, -1)]))
    return (fine.select(ancestors.alias("lv"), "n_docs")
            .groupBy(F.col("lv.res").alias("res"),
                     F.col("lv.cell_id").alias("cell_id"))
            .agg(F.sum("n_docs").alias("n_docs"))
            .select("res", "cell_id", "n_docs"))


def tile_rollup_sql(points_cte: str, res_fine: int, res_coarse: int) -> str:
    """DuckDB twin of :func:`tile_rollup`: each level aggregated directly
    from the points (sum-of-counts is associative, so per-level direct
    aggregation equals the pyramid's cascaded rollup exactly)."""
    from polycheck_spark.geo.cells import cell_id_sql
    parts = []
    for r in range(res_fine, res_coarse - 1, -1):
        parts.append(
            f"SELECT {r} AS res, {cell_id_sql('lon', 'lat', r)} AS cell_id, "
            f"COUNT(*) AS n_docs FROM pts GROUP BY 2")
    body = " UNION ALL ".join(parts)
    return f"WITH pts AS ({points_cte}) {body}"


def tile_smooth(points: DataFrame, res: int) -> DataFrame:
    """3x3 neighborhood-smoothed tile density (the map-tile hot-spot /
    kernel-density prepass: each occupied cell's count plus all eight
    neighbors' counts).

    Output: one row per OCCUPIED cell — (ix, iy, n_docs, n_docs_3x3) with
    integer grid coordinates at ``res`` (n_docs_3x3 sums only occupied
    neighbors; empty cells contribute zero and emit nothing).

    Shape: a single LINEAR plan — the input is scanned and shuffled ONCE
    (the per-cell groupBy with map-side partial agg); everything after runs
    on the aggregated relation, bounded by min(|input|, 4^res) rows, never
    the raw points.  Each occupied cell scatters its count to its 9
    neighbor positions (an in-grid array explode, x9 on the small side)
    with the center contribution tagged separately, so ONE second groupBy
    yields both the smoothed sum and the cell's own count — no join back,
    no second scan of the points, nothing to re-materialize (the
    scatter/join-back alternative read the aggregation twice: a DAG the
    optimizer only deduplicates via physical exchange reuse, which AQE may
    decline).  Cells whose own count is zero (pure neighbors of occupied
    mass) are filtered at the end.  Grid edges clamp by OMISSION:
    out-of-grid neighbor positions are dropped, matching the oracle's
    WHERE bounds.  No UDF, no driver state.
    """
    if not 0 <= res <= C.MAX_RES:
        raise ValueError(f"res must be in [0, {C.MAX_RES}]")
    n = 1 << res
    ix, iy = C.ixiy_cols(F.col("lon"), F.col("lat"), res)
    occ = (points.select(ix.alias("ix"), iy.alias("iy"))
           .groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("n_docs")))
    nb = F.explode(F.array(*[
        F.struct((F.col("ix") + F.lit(dx)).alias("jx"),
                 (F.col("iy") + F.lit(dy)).alias("jy"),
                 (F.col("n_docs") if dx == 0 and dy == 0
                  else F.lit(0).cast("long")).alias("own"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])).alias("nb")
    return (occ.select(nb, "n_docs")
            .select(F.col("nb.jx").alias("ix"), F.col("nb.jy").alias("iy"),
                    F.col("nb.own").alias("own"), "n_docs")
            .filter((F.col("ix") >= 0) & (F.col("ix") < n)
                    & (F.col("iy") >= 0) & (F.col("iy") < n))
            .groupBy("ix", "iy")
            .agg(F.sum("own").cast("long").alias("n_docs"),
                 F.sum("n_docs").cast("long").alias("n_docs_3x3"))
            .filter(F.col("n_docs") > 0)
            .select("ix", "iy", "n_docs", "n_docs_3x3"))


def tile_smooth_sql(points_cte: str, res: int) -> str:
    """DuckDB twin of :func:`tile_smooth` (gather formulation: per occupied
    cell, sum counts over the 9-offset cross join — equal to the scatter
    formulation by symmetry of the offset set)."""
    ix, iy = C.ixiy_sql("lon", "lat", res)
    n = 1 << res
    return f"""
WITH occ AS (
  SELECT {ix} AS ix, {iy} AS iy, COUNT(*) AS n_docs
  FROM ({points_cte}) GROUP BY 1, 2),
offs AS (SELECT dx, dy FROM (VALUES (-1),(0),(1)) a(dx), (VALUES (-1),(0),(1)) b(dy)),
sm AS (
  SELECT o.ix + dx AS ix, o.iy + dy AS iy, SUM(o.n_docs) AS n_docs_3x3
  FROM occ o, offs
  WHERE o.ix + dx BETWEEN 0 AND {n - 1} AND o.iy + dy BETWEEN 0 AND {n - 1}
  GROUP BY 1, 2)
SELECT occ.ix, occ.iy, occ.n_docs, CAST(sm.n_docs_3x3 AS BIGINT) AS n_docs_3x3
FROM occ JOIN sm USING (ix, iy)
"""


def hotspot_regions(points: DataFrame, res: int, min_count: int) -> DataFrame:
    """Grid-DBSCAN-style spatial hotspot clustering: cells whose point
    count reaches ``min_count`` are "hot"; hot cells that touch (8-connected
    neighborhood) merge into regions.  Output: one row per region —
    (region, n_cells, n_docs, ix_min, ix_max, iy_min, iy_max) where
    ``region`` is the smallest member cell key ``ix * 2^res + iy`` (a
    deterministic representative) and the ix/iy extrema are the region's
    grid bounding box.

    This is the density-based clustering primitive a crawl/mobility
    pipeline uses for "find the contiguous dense areas" — the cell-count
    gate is DBSCAN's minPts over a fixed-radius (one cell) neighborhood,
    and the region merge is connectivity, computed by the engine's
    existing min-label connected-components operator.

    Shape for scale: the raw points are scanned and shuffled ONCE (the
    per-cell count with map-side partial agg); everything downstream —
    the hotness filter, the 8-neighbor scatter/equi-join that builds the
    adjacency (never a spatial cross join), and the O(log n)-round CC —
    runs on the HOT-CELL relation, bounded by min(|occupied cells|,
    4^res), orders of magnitude below the corpus.  The hot relation is
    localCheckpointed once so the CC rounds and the adjacency join do not
    re-run the corpus aggregation per round.
    """
    if not 0 <= res <= C.MAX_RES:
        raise ValueError(f"res must be in [0, {C.MAX_RES}]")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    from polycheck_spark.operators.dedup import cluster_assignments
    n = 1 << res
    ix, iy = C.ixiy_cols(F.col("lon"), F.col("lat"), res)
    hot = (points.select(ix.alias("ix"), iy.alias("iy"))
           .groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("n_docs"))
           .filter(F.col("n_docs") >= min_count)
           .withColumn("k", (F.col("ix") * n + F.col("iy")).cast("long"))
           .localCheckpoint(eager=False))
    nb = F.explode(F.array(*[
        F.struct((F.col("ix") + F.lit(dx)).alias("jx"),
                 (F.col("iy") + F.lit(dy)).alias("jy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
        if not (dx == 0 and dy == 0)])).alias("nb")
    probes = (hot.select(F.col("k").alias("a"), nb)
              .select("a", F.col("nb.jx").alias("jx"),
                      F.col("nb.jy").alias("jy")))
    edges = (probes.join(hot.select(F.col("ix").alias("jx"),
                                    F.col("iy").alias("jy"),
                                    F.col("k").alias("b")), ["jx", "jy"])
             .filter(F.col("a") < F.col("b"))
             .select("a", "b"))
    labels = cluster_assignments(hot.select(F.col("k").alias("id")), edges)
    return (hot.join(labels, hot.k == labels.id)
            .groupBy(F.col("cluster_id").alias("region"))
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum("n_docs").cast("long").alias("n_docs"),
                 F.min("ix").alias("ix_min"), F.max("ix").alias("ix_max"),
                 F.min("iy").alias("iy_min"), F.max("iy").alias("iy_max")))


def hotspot_regions_sql(points_cte: str, res: int, min_count: int) -> str:
    """DuckDB twin of :func:`hotspot_regions` (same count gate + 8-neighbor
    adjacency; connectivity via the exact recursive-closure CC twin)."""
    from polycheck_spark.operators.dedup import connected_components_sql
    ix, iy = C.ixiy_sql("lon", "lat", res)
    n = 1 << res
    cc = connected_components_sql("SELECT k AS id FROM hotc",
                                  "SELECT a, b FROM adj")
    return f"""
WITH hotc AS (
  SELECT ix, iy, n_docs, ix * {n} + iy AS k FROM (
    SELECT {ix} AS ix, {iy} AS iy, COUNT(*) AS n_docs
    FROM ({points_cte}) GROUP BY 1, 2)
  WHERE n_docs >= {min_count}),
offs AS (SELECT dx, dy
         FROM (VALUES (-1),(0),(1)) a(dx), (VALUES (-1),(0),(1)) b(dy)
         WHERE NOT (dx = 0 AND dy = 0)),
adj AS (
  SELECT h.k AS a, g.k AS b
  FROM hotc h JOIN offs ON TRUE
  JOIN hotc g ON g.ix = h.ix + dx AND g.iy = h.iy + dy
  WHERE h.k < g.k),
labels AS ({cc})
SELECT l.cluster_id AS region, COUNT(*) AS n_cells,
       CAST(SUM(h.n_docs) AS BIGINT) AS n_docs,
       MIN(h.ix) AS ix_min, MAX(h.ix) AS ix_max,
       MIN(h.iy) AS iy_min, MAX(h.iy) AS iy_max
FROM hotc h JOIN labels l ON l.id = h.k
GROUP BY 1
"""
