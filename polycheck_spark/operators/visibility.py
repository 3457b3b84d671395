"""Raster visibility / sensor-coverage operators (reference O2-O9) as Spark
pipelines, plus raster<->vector lookups.

Pipeline shape (SURVEY.md §2.1): the occupancy grid is small and broadcast
(the reference uploads it once to the GPU — polycheck.py:895-897); the big
side (ends / starts x ends / sensors x cells) is a DataFrame.  Cheap gates
(max_range, FOV) run as Column expressions *before* the Arrow UDF so Catalyst
prunes rows that never need a ray walk — the relational analog of the
reference's early-exit tests (polycheck.py:260-262, 735-745).

Each operator picks its regime as its local twin does: ``origin`` set means
world coordinates walked by the DDA (O4/O6), else grid cells walked by
Bresenham (O2/O3/O5).  Inside the Arrow UDF one lockstep batch kernel per
traversal (geo/kernel_batch.py) walks the whole batch.

Results match the float32 kernels exactly; golden tests compare against the
local kernel API below and the reference's closed-form fixtures.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from polycheck_spark.geo import kernel as K
from polycheck_spark.geo import kernel_batch as KB

TWO_PI = 2.0 * math.pi

# refuse naive cross products beyond this many pairs (SURVEY.md §7 known-hard
# #5): above it the caller must tile the problem instead
MAX_CROSS_PAIRS = 200_000_000


# ---------------------------------------------------------------------------
# local (driver/batch) API — reference-signature parity
# ---------------------------------------------------------------------------

def visibility_local(data, start, ends, max_range=None):
    """(H,W) raster of transmittance from ``start`` to each end (O2)."""
    data = np.asarray(data, dtype=np.float32)
    out = np.zeros_like(data, dtype=np.float32)
    mr = 0 if max_range is None else int(max_range)
    for ex, ey in np.asarray(ends, dtype=np.int64):
        out[ey, ex] = K.line_observation(data, int(start[0]), int(start[1]),
                                         int(ex), int(ey), mr)
    return out


def visibility_from_region_local(data, starts, ends, max_range=None):
    """(S*E,) all-pairs transmittance matrix (O3)."""
    data = np.asarray(data, dtype=np.float32)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    mr = 0 if max_range is None else int(max_range)
    out = np.zeros(len(starts) * len(ends), dtype=np.float32)
    for si, (sx, sy) in enumerate(starts):
        for ei, (ex, ey) in enumerate(ends):
            out[si * len(ends) + ei] = K.line_observation(
                data, int(sx), int(sy), int(ex), int(ey), mr)
    return out


def visibility_from_real_region_local(data, origin, resolution, starts, ends, max_range=None):
    """(S*E,) all-pairs DDA transmittance in world coordinates (O4)."""
    data = np.asarray(data, dtype=np.float32)
    h, w = data.shape
    starts = np.asarray(starts, dtype=np.float32)
    ends = np.asarray(ends, dtype=np.float32)
    mr = 0.0 if max_range is None else float(max_range)
    out = np.zeros(len(starts) * len(ends), dtype=np.float32)
    for si, (sx, sy) in enumerate(starts):
        for ei, (ex, ey) in enumerate(ends):
            out[si * len(ends) + ei] = K.line_real_observation(
                data, h, w, origin[0], origin[1], resolution, sx, sy, ex, ey, mr)
    return out


def sensor_visibility_local(data, sensors, combine="union", origin=None, resolution=None):
    """(per_sensor (M,H,W), combined (H,W)) — O5/O6 + O8/O9."""
    data = np.clip(np.asarray(data, dtype=np.float32), 0.0, 1.0)
    h, w = data.shape
    sensors = np.asarray(sensors, dtype=np.float32)
    if sensors.ndim != 2 or sensors.shape[1] != 5:
        raise ValueError("sensors must have shape (M, 5): [x, y, range, direction, fov]")
    per = np.zeros((len(sensors), h, w), dtype=np.float32)
    for i, s in enumerate(sensors):
        for ey in range(h):
            for ex in range(w):
                per[i, ey, ex] = K.sensor_cell_observation(
                    data, s, ex, ey, origin=origin, resolution=resolution)
    per = np.clip(per, 0.0, 1.0).astype(np.float32)
    mask = K.sensor_coverage_mask(h, w, sensors, origin=origin, resolution=resolution)
    return per, K.combine_sensor_observations(per, mask, combine)


# ---------------------------------------------------------------------------
# Spark pipelines
# ---------------------------------------------------------------------------

def _grid_bc(spark, data):
    data = np.asarray(data, dtype=np.float32)
    return spark.sparkContext.broadcast(data)


def visibility_df(spark, data, start, ends_df: DataFrame, max_range=None) -> DataFrame:
    """O2 as a pipeline: ends (ex, ey) -> (ex, ey, vis); scatter into the
    raster with :func:`scatter_to_raster`.

    The reference product walk has NO bounds checks (out-of-grid rays are UB,
    polycheck.py:375-432); here out-of-grid ends get the defined value 0.0
    via a Column gate (an in-bounds start and end keep the whole Bresenham
    path inside their bounding box, so the kernel itself never reads out of
    grid). An out-of-grid start is rejected eagerly."""
    data = np.asarray(data, dtype=np.float32)
    h, w = data.shape
    sx, sy = int(start[0]), int(start[1])
    if not (0 <= sx < w and 0 <= sy < h):
        raise ValueError(f"start {start} outside the {h}x{w} grid")
    bc = _grid_bc(spark, data)
    mr = 0 if max_range is None else int(max_range)

    @F.pandas_udf(T.FloatType())
    def walk(ex: pd.Series, ey: pd.Series) -> pd.Series:
        grid = bc.value
        exs = ex.to_numpy(np.int64)
        eys = ey.to_numpy(np.int64)
        vis = KB.bresenham_batch(grid, np.full(len(exs), sx),
                                 np.full(len(exs), sy), exs, eys, "product", mr)
        return pd.Series(vis)

    # filter-split (not when()): an Arrow UDF evaluates its whole batch, so
    # out-of-grid rows must never reach the kernel at all
    in_bounds = ((F.col("ex") >= 0) & (F.col("ex") < w)
                 & (F.col("ey") >= 0) & (F.col("ey") < h))
    walk_rows = ends_df.filter(in_bounds).withColumn(
        "vis", walk(F.col("ex"), F.col("ey")).cast("float"))
    oob_rows = ends_df.filter(~in_bounds).withColumn(
        "vis", F.lit(0.0).cast("float"))
    return walk_rows.union(oob_rows)


def scatter_to_raster(spark, vis_df: DataFrame, height: int, width: int) -> DataFrame:
    """Left-join the computed ends onto the full cell grid; missing cells -> 0
    (the relational twin of the reference's memset + scatter, polycheck.py:913-937)."""
    cells = spark.range(height * width).select(
        (F.col("id") / width).cast("int").alias("row"),
        F.pmod(F.col("id"), F.lit(width)).cast("int").alias("col"))
    return (cells.join(vis_df.select(F.col("ey").alias("row"), F.col("ex").alias("col"), "vis"),
                       ["row", "col"], "left")
            .select("row", "col", F.coalesce(F.col("vis"), F.lit(0.0)).cast("float").alias("vis")))


def visibility_from_region_df(spark, data, starts_df: DataFrame, ends_df: DataFrame,
                              max_range=None, origin=None, resolution=None) -> DataFrame:
    """O3/O4: all-pairs starts x ends -> (sx, sy, ex, ey, vis).

    With ``origin`` set the pairs are world coordinates walked by the DDA
    (O4), else grid cells walked by Bresenham (O3), as in the local twins.
    The max_range gate runs as a Column filter BEFORE the UDF (rows beyond
    range are assigned vis=0 without a ray walk).
    """
    bc = _grid_bc(spark, data)
    h, w = np.asarray(data).shape
    mr = 0.0 if max_range is None else float(max_range)
    pairs = starts_df.crossJoin(ends_df)
    real = origin is not None
    frame = (float(origin[0]), float(origin[1]), float(resolution)) if real else None

    @F.pandas_udf(T.FloatType())
    def walk(sx: pd.Series, sy: pd.Series, ex: pd.Series, ey: pd.Series) -> pd.Series:
        grid = bc.value
        if real:
            rays = (c.to_numpy(np.float64) for c in (sx, sy, ex, ey))
            return pd.Series(KB.dda_batch(grid, *frame, *rays, "product", mr))
        rays = (c.to_numpy(np.int64) for c in (sx, sy, ex, ey))
        return pd.Series(KB.bresenham_batch(grid, *rays, "product", int(mr)))

    zero_gate = None
    if mr > 0:
        # Conservative Catalyst prefilter: rays the kernel would certainly
        # zero skip the walk entirely.  Grid kernel counts Bresenham STEPS
        # (>= Chebyshev-1), real kernel compares float32 Euclid to max_range
        # — both gates below are strict supersets of the kernel's own test,
        # and pruned rows get the exact value (0) the kernel returns.
        if real:
            zero_gate = F.sqrt((F.col("ex") - F.col("sx")) ** 2
                               + (F.col("ey") - F.col("sy")) ** 2) \
                > F.lit(mr * (1.0 + 1e-5) + 1e-3)
        else:
            cheb = F.greatest(F.abs(F.col("ex") - F.col("sx")),
                              F.abs(F.col("ey") - F.col("sy")))
            zero_gate = cheb > F.lit(int(mr) + 1)
    if not real:
        # the reference grid product walk has NO bounds checks (out-of-grid
        # endpoints are UB, polycheck.py:375-432): give them the defined
        # value 0 and keep them away from the kernel entirely (in-bounds
        # endpoints bound the whole Bresenham path). The real (DDA) kernel
        # bounds-checks internally, so no gate is needed there.
        oob = ((F.col("sx") < 0) | (F.col("sx") >= w)
               | (F.col("sy") < 0) | (F.col("sy") >= h)
               | (F.col("ex") < 0) | (F.col("ex") >= w)
               | (F.col("ey") < 0) | (F.col("ey") >= h))
        zero_gate = oob if zero_gate is None else (zero_gate | oob)
    if zero_gate is not None:
        walk_rows = pairs.filter(~zero_gate).withColumn(
            "vis", walk(F.col("sx"), F.col("sy"), F.col("ex"), F.col("ey")).cast("float"))
        pruned = pairs.filter(zero_gate).withColumn("vis", F.lit(0.0).cast("float"))
        return walk_rows.union(pruned)
    vis = walk(F.col("sx"), F.col("sy"), F.col("ex"), F.col("ey"))
    return pairs.withColumn("vis", vis.cast("float"))


def sensor_visibility_df(spark, data, sensors_df: DataFrame, combine: str = "union",
                         origin=None, resolution=None) -> tuple[DataFrame, DataFrame]:
    """O5/O6 + O8/O9: (per-sensor df, combined df).

    sensors_df: (sensor_id, x, y, range, direction, fov).  With ``origin``
    set the sensors sit in world coordinates and walk the DDA to each cell
    centre (O6), else they are epsilon-rounded to a cell (O5), as in
    :func:`sensor_visibility_local`.
    The FOV/range/coverage gate is pure Column trig (O9 — no UDF); only
    covered pairs reach the ray-walk UDF. Combine (O8) is a log-space
    aggregation over sensors per cell.
    """
    data = np.clip(np.asarray(data, dtype=np.float32), 0.0, 1.0)
    h, w = data.shape
    n_sensors = sensors_df.count()
    if h * w * max(n_sensors, 1) > MAX_CROSS_PAIRS:
        raise ValueError(
            f"sensors x cells cross product ({n_sensors} x {h * w}) exceeds "
            f"MAX_CROSS_PAIRS={MAX_CROSS_PAIRS}; partition the grid into "
            f"tiles and run per tile (cells outside every sensor's range "
            f"never need a walk)")
    bc = _grid_bc(spark, data)
    # parallelism comes from the big side: cells are range-partitioned,
    # the (tiny) sensor table is broadcast
    cells = spark.range(h * w).select(
        (F.col("id") / w).cast("int").alias("ey"),
        F.pmod(F.col("id"), F.lit(w)).cast("int").alias("ex"))
    pairs = cells.crossJoin(F.broadcast(sensors_df))
    real = origin is not None

    if real:
        ox, oy, res = float(origin[0]), float(origin[1]), float(resolution)
        tx = F.lit(ox) + (F.col("ex") + F.lit(0.5)) * F.lit(res)
        ty = F.lit(oy) + (F.col("ey") + F.lit(0.5)) * F.lit(res)
        scx = F.floor((F.col("x") - F.lit(ox)) / F.lit(res)).cast("int")
        scy = F.floor((F.col("y") - F.lit(oy)) / F.lit(res)).cast("int")
    else:
        # epsilon-round of the sensor position (reference polycheck.py:1065-1069)
        rounded_x = F.round(F.col("x"))
        scx = F.when(F.abs(F.col("x") - rounded_x) < 2e-6, rounded_x) \
               .otherwise(F.col("x").cast("int")).cast("int")
        rounded_y = F.round(F.col("y"))
        scy = F.when(F.abs(F.col("y") - rounded_y) < 2e-6, rounded_y) \
               .otherwise(F.col("y").cast("int")).cast("int")
        tx = F.col("ex").cast("double")
        ty = F.col("ey").cast("double")

    pairs = pairs.withColumn("tx", tx).withColumn("ty", ty) \
                 .withColumn("scx", scx).withColumn("scy", scy)

    # O9 coverage mask as Column trig (tolerances from polycheck.py:1085-1101)
    if real:
        dx = F.col("tx") - F.col("x")
        dy = F.col("ty") - F.col("y")
    else:
        dx = F.col("tx") - F.col("scx")
        dy = F.col("ty") - F.col("scy")
    dist = F.sqrt(dx * dx + dy * dy)
    in_range = dist <= F.col("range") + F.lit(1e-6)
    bearing = F.atan2(dy, dx)
    delta = F.abs(F.pmod(bearing - F.col("direction") + F.lit(math.pi), F.lit(TWO_PI)) - F.lit(math.pi))
    has_fov = (F.col("fov") > 0.0) & (F.col("fov") < F.lit(TWO_PI - 1e-6))
    in_fov = (~has_fov) | (dist <= 1e-8) | (delta <= F.col("fov") / 2 + F.lit(1e-6))
    zero_range = F.col("range") <= 0.0
    own_cell = (F.col("ex") == F.col("scx")) & (F.col("ey") == F.col("scy"))
    covered = F.when(zero_range, own_cell).otherwise(in_range & in_fov)
    pairs = pairs.withColumn("covered", covered)

    # lockstep-vectorized gate + sum walk over the whole batch; the kernel
    # does its own regime's sensor-cell rounding, so both regimes pass x, y
    @F.pandas_udf(T.FloatType())
    def pair_obs(x: pd.Series, y: pd.Series, rng: pd.Series, drn: pd.Series,
                 fov: pd.Series, exs: pd.Series, eys: pd.Series) -> pd.Series:
        grid = bc.value
        return pd.Series(KB.sensor_cell_observation_batch(
            grid, x.to_numpy(np.float64), y.to_numpy(np.float64),
            rng.to_numpy(np.float64), drn.to_numpy(np.float64),
            fov.to_numpy(np.float64), exs.to_numpy(np.int64),
            eys.to_numpy(np.int64), origin, resolution))

    # The exact float32 gate lives INSIDE the kernel (polycheck.py:735-748);
    # the Column gate below is a strictly-conservative prefilter (slack covers
    # float32-vs-double drift) so Catalyst skips pairs that are certainly 0.
    coarse_in_range = dist <= F.col("range") * F.lit(1.0 + 1e-5) + F.lit(1e-3)
    coarse_in_fov = (~has_fov) | (dist <= 1e-6) | (delta <= F.col("fov") / 2 + F.lit(1e-3))
    gate = zero_range | (coarse_in_range & coarse_in_fov)
    walk_part = pairs.filter(gate).withColumn(
        "p",
        F.when(zero_range, F.when(own_cell, F.lit(1.0)).otherwise(F.lit(0.0)))
         .otherwise(pair_obs(F.col("x"), F.col("y"), F.col("range"),
                             F.col("direction"), F.col("fov"),
                             F.col("ex"), F.col("ey"))).cast("float"))
    pruned_part = pairs.filter(~gate).withColumn("p", F.lit(0.0).cast("float"))
    per = walk_part.union(pruned_part)

    per_sensor = per.select("sensor_id", "ex", "ey", "p", "covered")

    # O8 combine as log-space aggregation (simple_occlusion.MD:145 suggestion)
    eff_union = F.when(F.col("covered"), F.col("p")).otherwise(F.lit(0.0))
    one_minus = 1.0 - eff_union
    if combine == "union":
        has_zero = F.max(F.when(one_minus <= 0.0, 1).otherwise(0))
        logsum = F.sum(F.log(F.when(one_minus > 0.0, one_minus).otherwise(1.0)))
        combined_expr = F.lit(1.0) - F.when(has_zero == 1, F.lit(0.0)).otherwise(F.exp(logsum))
    elif combine == "product":
        eff = F.when(F.col("covered"), F.col("p")).otherwise(F.lit(1.0))
        has_zero = F.max(F.when(eff <= 0.0, 1).otherwise(0))
        logsum = F.sum(F.log(F.when(eff > 0.0, eff).otherwise(1.0)))
        any_cov = F.max(F.when(F.col("covered"), 1).otherwise(0))
        combined_expr = F.when(any_cov == 0, F.lit(0.0)) \
                         .when(has_zero == 1, F.lit(0.0)) \
                         .otherwise(F.exp(logsum))
    else:
        raise ValueError("combine must be 'union' or 'product'")

    combined = (per_sensor.groupBy("ex", "ey")
                .agg(F.least(F.lit(1.0), F.greatest(F.lit(0.0), combined_expr))
                     .cast("float").alias("p")))
    return per_sensor, combined


# ---------------------------------------------------------------------------
# raster <-> vector lookup
# ---------------------------------------------------------------------------

def raster_lookup(points: DataFrame, raster: DataFrame, *,
                  origin: tuple[float, float], resolution: float) -> DataFrame:
    """Join points to raster cell values: point -> floor((p-origin)/res) ->
    equi-join (row, col) (reference cell mapping polycheck.py:266-267).
    Points outside the raster keep a NULL occ. Pure Column exprs + one
    broadcast-able equi-join — no UDF."""
    col_idx = F.floor((F.col("lon") - F.lit(origin[0])) / F.lit(resolution)).cast("int")
    row_idx = F.floor((F.col("lat") - F.lit(origin[1])) / F.lit(resolution)).cast("int")
    pts = points.withColumn("col", col_idx).withColumn("row", row_idx)
    return pts.join(F.broadcast(raster), ["row", "col"], "left")


def raster_lookup_sql(points_cte: str, raster_cte: str,
                      origin: tuple[float, float], resolution: float) -> str:
    return f"""
WITH pts AS ({points_cte}),
raster AS ({raster_cte}),
keyed AS (
  SELECT doc_id,
         CAST(FLOOR((lat - ({origin[1]!r})) / {resolution!r}) AS INT) AS row,
         CAST(FLOOR((lon - ({origin[0]!r})) / {resolution!r}) AS INT) AS col
  FROM pts
)
SELECT k.doc_id, k.row, k.col, r.occ
FROM keyed k LEFT JOIN raster r USING (row, col)
"""
