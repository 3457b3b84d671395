"""Hierarchical cell index (H3/S2-equivalent quadtree over lon/lat).

The reference has no spatial index; BASELINE.json's north_rule mandates an
"H3/S2 cell-index layer" for tile assignment, partitioned joins, k-ring kNN
and partition pruning.  Neither ``h3`` nor ``s2`` is installable in this
environment, so the index is a deterministic Morton (Z-order) quadtree:

* world bounds lon in [-180, 180), lat in [-90, 90)
* resolution r in [0, 28]: a 2^r x 2^r grid
* ``cell_id = (r << 56) | interleave_bits(ix, iy)`` — int64, always >= 0
* parent/child are pure bit arithmetic

Z-order keeps spatially-near cells numerically near, so sorting/partitioning
by cell_id clusters neighborhoods together (range pruning on parquet
min/max stats works; at 100 TB the pages table is written sorted by cell_id).

Three synchronized implementations from one formula:
  * NumPy (vectorized, used inside Arrow batches),
  * Spark Column expressions (JVM-side, whole-stage-codegen-able),
  * DuckDB SQL emitter (for the driver's oracle differential checks).
"""

from __future__ import annotations

import numpy as np

RES_SHIFT = 56
MAX_RES = 28

_SPREAD_MASKS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


# ---------------------------------------------------------------------------
# NumPy implementation
# ---------------------------------------------------------------------------

def _spread_np(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int64)
    for shift, mask in _SPREAD_MASKS:
        x = (x | (x << shift)) & np.int64(mask)
    return x


def _compact_np(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int64) & np.int64(0x5555555555555555)
    for shift, mask in reversed(_SPREAD_MASKS):
        x = (x | (x >> shift)) & np.int64(_next_mask(mask, shift))
    return x


def _next_mask(mask: int, shift: int) -> int:
    # inverse-spread mask after merging pairs separated by `shift`
    inv = {1: 0x3333333333333333, 2: 0x0F0F0F0F0F0F0F0F,
           4: 0x00FF00FF00FF00FF, 8: 0x0000FFFF0000FFFF,
           16: 0x00000000FFFFFFFF}
    return inv[shift]


def lonlat_to_ixiy(lon, lat, res: int):
    """Continuous coords -> integer grid indices, clamped to the grid."""
    n = np.int64(1) << res
    ix = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    iy = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    ix = np.clip(ix, 0, n - 1)
    iy = np.clip(iy, 0, n - 1)
    return ix, iy


def cell_id(lon, lat, res: int) -> np.ndarray:
    """Vectorized cell id at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    ix, iy = lonlat_to_ixiy(lon, lat, res)
    return encode(ix, iy, res)


def encode(ix, iy, res: int) -> np.ndarray:
    morton = _spread_np(np.asarray(ix)) | (_spread_np(np.asarray(iy)) << 1)
    return (np.int64(res) << RES_SHIFT) | morton


def decode(cid) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell_id -> (ix, iy, res)."""
    cid = np.asarray(cid, dtype=np.int64)
    res = cid >> RES_SHIFT
    morton = cid & ((np.int64(1) << RES_SHIFT) - 1)
    return _compact_np(morton), _compact_np(morton >> 1), res


def parent(cid) -> np.ndarray:
    """Containing cell one resolution coarser."""
    ix, iy, res = decode(cid)
    pres = res - 1
    return encode(ix >> 1, iy >> 1, int(np.max(pres)) if np.ndim(pres) else int(pres))


def children(cid) -> np.ndarray:
    """The four children one resolution finer; shape (..., 4)."""
    ix, iy, res = decode(np.asarray(cid))
    r = int(np.max(res)) + 1
    ix2, iy2 = ix << 1, iy << 1
    quads = [encode(ix2 + dx, iy2 + dy, r) for dy in (0, 1) for dx in (0, 1)]
    return np.stack(quads, axis=-1)


def cells_covering_bbox(xmin, ymin, xmax, ymax, res: int) -> np.ndarray:
    """All cells at ``res`` intersecting a lon/lat bbox (build-side expansion
    for the partitioned spatial join). Caller picks ``res`` so the result
    stays small; see pip_join.choose_cover_res."""
    n = np.int64(1) << res
    ix0, iy0 = lonlat_to_ixiy(xmin, ymin, res)
    ix1, iy1 = lonlat_to_ixiy(xmax, ymax, res)
    xs = np.arange(int(ix0), int(ix1) + 1, dtype=np.int64)
    ys = np.arange(int(iy0), int(iy1) + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return encode(gx.ravel(), gy.ravel(), res)


def num_bbox_cells(xmin, ymin, xmax, ymax, res: int) -> int:
    ix0, iy0 = lonlat_to_ixiy(xmin, ymin, res)
    ix1, iy1 = lonlat_to_ixiy(xmax, ymax, res)
    return int((ix1 - ix0 + 1) * (iy1 - iy0 + 1))


# ---------------------------------------------------------------------------
# Spark Column implementation (JVM-side, no Python in the hot path)
# ---------------------------------------------------------------------------

def _spread_col(col):
    from pyspark.sql import functions as F
    x = col.cast("long")
    for shift, mask in _SPREAD_MASKS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def ixiy_cols(lon_col, lat_col, res: int):
    """(ix, iy) integer grid Columns, clamped — JVM twins of lonlat_to_ixiy."""
    from pyspark.sql import functions as F
    n = 1 << res
    ix = F.floor((lon_col + F.lit(180.0)) / F.lit(360.0) * F.lit(n)).cast("long")
    iy = F.floor((lat_col + F.lit(90.0)) / F.lit(180.0) * F.lit(n)).cast("long")
    ix = F.least(F.greatest(ix, F.lit(0)), F.lit(n - 1))
    iy = F.least(F.greatest(iy, F.lit(0)), F.lit(n - 1))
    return ix, iy


def encode_col(ix_col, iy_col, res: int):
    """cell_id Column from integer grid Columns."""
    from pyspark.sql import functions as F
    morton = _spread_col(ix_col).bitwiseOR(F.shiftleft(_spread_col(iy_col), 1))
    return F.lit(res << RES_SHIFT).bitwiseOR(morton)


def cell_id_col(lon_col, lat_col, res: int):
    """Spark Column computing the same cell_id as :func:`cell_id`.

    WARNING: as a single Column the bit-spread tree duplicates its input 2x
    per level (32x total). Codegen handles it alone, but combined with other
    expressions in one stage it can exceed the generated-method size limit
    and silently fall back to interpreted eval (~30x slower). Prefer
    :func:`with_cell_id` in pipelines — it stages the levels as separate
    projections, each computed once.
    """
    ix, iy = ixiy_cols(lon_col, lat_col, res)
    return encode_col(ix, iy, res)


def with_cell_id(df, lon_col, lat_col, res: int):
    """Add ``cell_id`` = cell_id(lon, lat, res) via staged projections.

    Each Morton spread level lands in its own column, so Catalyst keeps the
    levels as separate Projects (CollapseProject refuses to duplicate
    non-trivial exprs referenced twice) and whole-stage codegen evaluates
    every level exactly once — linear code size instead of 2^levels.
    """
    from pyspark.sql import functions as F
    ix, iy = ixiy_cols(lon_col, lat_col, res)
    cx, cy = "__cell_id_x", "__cell_id_y"
    df = df.withColumn(cx, ix).withColumn(cy, iy)
    for shift, mask in _SPREAD_MASKS:
        df = df.withColumn(
            cx, (F.col(cx).bitwiseOR(F.shiftleft(F.col(cx), shift))).bitwiseAND(F.lit(mask)))
        df = df.withColumn(
            cy, (F.col(cy).bitwiseOR(F.shiftleft(F.col(cy), shift))).bitwiseAND(F.lit(mask)))
    morton = F.col(cx).bitwiseOR(F.shiftleft(F.col(cy), 1))
    return df.withColumn("cell_id", F.lit(res << RES_SHIFT).bitwiseOR(morton)).drop(cx, cy)


# ---------------------------------------------------------------------------
# DuckDB SQL emitter (oracle differential)
# ---------------------------------------------------------------------------

def _spread_sql(expr: str) -> str:
    x = f"CAST({expr} AS BIGINT)"
    for shift, mask in _SPREAD_MASKS:
        x = f"((({x}) | (({x}) << {shift})) & {mask})"
    return x


def ixiy_sql(lon_expr: str, lat_expr: str, res: int) -> tuple[str, str]:
    """SQL twins of :func:`ixiy_cols` — clamped integer grid indices."""
    n = 1 << res
    ix = f"LEAST(GREATEST(CAST(FLOOR((({lon_expr}) + 180.0) / 360.0 * {n}) AS BIGINT), 0), {n - 1})"
    iy = f"LEAST(GREATEST(CAST(FLOOR((({lat_expr}) + 90.0) / 180.0 * {n}) AS BIGINT), 0), {n - 1})"
    return ix, iy


def cell_id_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """ANSI/DuckDB SQL string computing the same cell_id."""
    ix, iy = ixiy_sql(lon_expr, lat_expr, res)
    return f"({res << RES_SHIFT} | ({_spread_sql(ix)} | ({_spread_sql(iy)} << 1)))"


def parent_col(cid_col, res: int, parent_res: int):
    """Containing-cell Column at a coarser resolution — JVM twin of
    :func:`parent`.  Morton codes nest: dropping the 2*(res-parent_res) low
    interleaved bits IS the interleave of (ix >> d, iy >> d), so the parent
    id is two bit ops — no decode/re-encode, no UDF (equality with the NumPy
    path is pinned by tests/test_cells.py)."""
    from pyspark.sql import functions as F
    if not 0 <= parent_res <= res:
        raise ValueError("need 0 <= parent_res <= res")
    d = res - parent_res
    morton_mask = (1 << RES_SHIFT) - 1
    morton = F.shiftrightunsigned(cid_col.bitwiseAND(F.lit(morton_mask)), 2 * d)
    return F.lit(parent_res << RES_SHIFT).bitwiseOR(morton)


def parent_sql(cid_expr: str, res: int, parent_res: int) -> str:
    """SQL twin of :func:`parent_col` (same two bit ops)."""
    d = res - parent_res
    morton_mask = (1 << RES_SHIFT) - 1
    return (f"({parent_res << RES_SHIFT} | "
            f"((({cid_expr}) & {morton_mask}) >> {2 * d}))")
