"""Polygon layers: golden fixtures + deterministic synthetic layers.

Golden polygons are reproduced verbatim from the reference tests
(/root/reference/tests/test_contains.py:59-68, test_comparison.py:64,200-201)
so join rows / tile assignments can be asserted exactly against the
reference's own semantics.

Synthetic layers are regular V-gons with vertices snapped to a 1/16-degree
grid.  Snapping makes every vertex exactly representable in float32, so the
engine's float32 kernel and the DuckDB float64 oracle classify identical
point sets (only points within float32 rounding of an edge could disagree,
and snapped vertices keep edges where both precisions agree).

One Python literal is the single source of truth; Spark build sides and
DuckDB ``VALUES`` edge lists are both emitted from it.
"""

from __future__ import annotations

import math

import numpy as np

from polycheck_spark.data.walk_oracles import _lit as _flit

# --- golden fixtures (reference coordinates, [-8, 8] space) ---------------

GOLDEN_POLYGONS: dict[str, list[tuple[float, float]]] = {
    # self-intersecting 8-point star; exercises the nonzero-winding rule
    "star8": [(5.0, 5.0), (0.0, 0.5), (5.0, -5.0), (0.5, -0.5),
              (-5.0, -5.0), (0.0, -0.5), (-5.0, 5.0), (-0.5, 0.5)],
    "unit_square": [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)],
    "triangle": [(2.0, 2.0), (3.0, 2.0), (2.5, 3.0)],
    "square2": [(4.0, 1.0), (5.0, 1.0), (5.0, 2.0), (4.0, 2.0)],
}

GOLDEN_IDS = {name: i + 1 for i, name in enumerate(GOLDEN_POLYGONS)}


def _snap16(v: float) -> float:
    """Snap to 1/16 degree — exactly representable in float32."""
    return round(v * 16.0) / 16.0


def synthetic_layer(num_polygons: int = 12, base_radius: float = 12.0,
                    seed: int = 7) -> list[dict]:
    """Deterministic lon/lat polygon layer (no RNG state: pure arithmetic).

    Returns a list of dicts: {polygon_id, name, vertices [(lon, lat), ...]}.
    Polygon k is a regular V-gon (V cycles through [3, 12])
    centered on an arithmetic low-discrepancy sequence, radius varying with k.
    """
    polys = []
    for k in range(num_polygons):
        v = 3 + (k * 5 + seed) % 10
        # Weyl sequences for centers: irrational-step rotations, deterministic
        cx = -180.0 + 360.0 * (((k + seed) * 0.7548776662466927) % 1.0)
        cy = -60.0 + 120.0 * (((k + seed) * 0.5698402909980532) % 1.0)
        radius = base_radius * (0.5 + ((k * 3 + 1) % 7) / 7.0)
        phase = 2.0 * math.pi * ((k * 0.381966) % 1.0)
        verts = []
        for j in range(v):
            a = phase + 2.0 * math.pi * j / v
            x = _snap16(cx + radius * math.cos(a))
            y = _snap16(max(-89.0, min(89.0, cy + radius * math.sin(a))))
            verts.append((x, y))
        polys.append({"polygon_id": 100 + k, "name": f"syn{k}", "vertices": verts})
    return polys


def golden_layer_lonlat() -> list[dict]:
    """Golden polygons placed into lon/lat space, snapped to 1/16 degree.

    The star spans [-5,5]^2 degrees around (0,0) ("null island"), which
    deliberately coincides with geocoding hot spots so the skew path sees
    real polygon hits.
    """
    out = []
    for name, verts in GOLDEN_POLYGONS.items():
        vv = [(_snap16(x), _snap16(y)) for (x, y) in verts]
        out.append({"polygon_id": GOLDEN_IDS[name], "name": name, "vertices": vv})
    return out


def default_query_layer() -> list[dict]:
    """The layer used by driver-checked queries: golden (lon/lat placement)
    + synthetic V-gons. Deterministic, ~16 polygons."""
    return golden_layer_lonlat() + synthetic_layer()


# --- conversions -----------------------------------------------------------

def layer_to_csr(layer: list[dict]):
    """(vertices (sumV,2) float32, offsets (P+1,), polygon_ids (P,)) for broadcast."""
    from polycheck_spark.geo.kernel import pack_polygons_csr
    verts, offsets = pack_polygons_csr([p["vertices"] for p in layer])
    ids = np.asarray([p["polygon_id"] for p in layer], dtype=np.int64)
    return verts, offsets, ids


def edges_values_sql(layer: list[dict]) -> str:
    """DuckDB VALUES list of directed edges
    (polygon_id, x1, y1, x2, y2, dx, dy).

    Coordinates round-trip through float32 so the oracle sees exactly the
    vertices the engine's float32 kernel sees; dx/dy are the float32 edge
    deltas the kernel multiplies by (kernel.contains side computation).
    """
    rows = []
    for p in layer:
        verts = [(np.float32(x), np.float32(y)) for x, y in p["vertices"]]
        for i, (x1, y1) in enumerate(verts):
            x2, y2 = verts[(i + 1) % len(verts)]
            dx = float(np.float32(x2 - x1))
            dy = float(np.float32(y2 - y1))
            rows.append(f"({p['polygon_id']}, {_flit(float(x1))}, {_flit(float(y1))}, "
                        f"{_flit(float(x2))}, {_flit(float(y2))}, {_flit(dx)}, {_flit(dy)})")
    return ",\n    ".join(rows)


def winding_join_sql(points_cte: str, layer: list[dict]) -> str:
    """Full DuckDB query: nonzero-winding PIP join of ``points_cte`` vs layer.

    Float32-exact twin of kernel.contains: points are rounded to float32 and
    the side test rounds after every op (double +,-,* on float32 operands are
    exact, so CAST-per-op reproduces the kernel bit-for-bit).

    Residual gap (documented): the bbox prefilter skips points outside a
    polygon's float32 bounding box. The kernel tests them and computes an
    exact winding of 0 unless float32 rounding flips a side sign for a point
    sitting on a distant edge-line EXTENSION — adversarially constructible,
    never observed on real layers, and excluded by the test data generator.
    """
    bbox_rows = []
    for p in layer:
        xs = [float(np.float32(x)) for x, _ in p["vertices"]]
        ys = [float(np.float32(y)) for _, y in p["vertices"]]
        bbox_rows.append(f"({p['polygon_id']}, {_flit(min(xs))}, {_flit(min(ys))}, "
                         f"{_flit(max(xs))}, {_flit(max(ys))})")
    bbox_filter = (
        "JOIN bboxes b ON b.polygon_id = e.polygon_id "
        "AND p.plon >= b.xmin AND p.plon <= b.xmax "
        "AND p.plat >= b.ymin AND p.plat <= b.ymax")
    side = ("CAST(CAST(CAST(p.plat - e.y1 AS FLOAT) * e.dx AS FLOAT)"
            " - CAST(CAST(p.plon - e.x1 AS FLOAT) * e.dy AS FLOAT) AS FLOAT)")
    return f"""
WITH pts AS ({points_cte}),
pts32 AS (
  SELECT doc_id, CAST(lon AS FLOAT) AS plon, CAST(lat AS FLOAT) AS plat
  FROM pts
),
edges(polygon_id, x1, y1, x2, y2, dx, dy) AS (VALUES
    {edges_values_sql(layer)}
),
bboxes(polygon_id, xmin, ymin, xmax, ymax) AS (VALUES
    {', '.join(bbox_rows)}
),
wn AS (
  SELECT point_id, polygon_id,
         SUM(CASE
             WHEN y1 <= plat AND y2 > plat AND side > 0 THEN 1
             WHEN y1 > plat AND y2 <= plat AND side < 0 THEN -1
             ELSE 0 END) AS w
  FROM (
    SELECT p.doc_id AS point_id, e.polygon_id,
           p.plat, e.y1, e.y2, {side} AS side
    FROM pts32 p
    JOIN edges e ON TRUE
    {bbox_filter}
  ) s
  GROUP BY 1, 2
)
SELECT point_id, polygon_id FROM wn WHERE w <> 0
"""
