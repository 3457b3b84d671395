"""Within-radius spatial join (range join).

For each query point, every target point with planar distance <= radius
(same flat 2-D metric as the kNN operator — the reference treats all
coordinates as planar, cf. /root/reference/polycheck/polycheck.py contains()
semantics; keeping that metric makes results exactly oracle-checkable).

Plan shape (the 100-TB story): pick the coarsest cell resolution whose cell
extent still >= radius, index targets by cell once, explode each query into
its 3x3 neighbor block (any point within radius of q lies in q's cell +- 1
at that resolution), equi-join on cell_id, exact dist2 <= radius^2 refine.
So the join is ALWAYS a 9-cell equi-join — never an all-pairs product, and
the fan-out per query is constant regardless of radius (the resolution
absorbs it).  Skewed cells behave like any hot equi-join key (AQE skew
split / salting upstream applies).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from polycheck_spark.geo import cells as C


def res_for_radius(radius: float) -> int:
    """Coarsest resolution with min-axis cell extent >= radius, so a 3x3
    block covers the disc: extent = 180/2^res (lat axis is the tighter one).
    """
    if radius <= 0:
        raise ValueError("radius must be positive")
    res = int(math.floor(math.log2(180.0 / radius))) if radius < 180.0 else 0
    return max(0, min(C.MAX_RES, res))


def range_join(queries: DataFrame, targets: DataFrame, radius: float, *,
               query_id: str = "query_id", target_id: str = "target_id") -> DataFrame:
    """(query_id, target_id, dist2) for every pair within ``radius``
    (self-pairs excluded when ids collide)."""
    res = res_for_radius(radius)
    n = 1 << res
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col("lon").alias("qlon"), F.col("lat").alias("qlat"))
    qix, qiy = C.ixiy_cols(F.col("qlon"), F.col("qlat"), res)
    q = q.withColumn("qix", qix).withColumn("qiy", qiy)
    offsets = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    q = q.withColumn("o", F.explode(offsets))
    nix, niy = F.col("qix") + F.col("o.dx"), F.col("qiy") + F.col("o.dy")
    q = (q.filter((nix >= 0) & (nix < n) & (niy >= 0) & (niy < n))
          .withColumn("cell_id", C.encode_col(nix, niy, res))
          .select("query_id", "qlon", "qlat", "cell_id"))

    t = targets.select(F.col(target_id).alias("target_id"),
                       F.col("lon").alias("tlon"), F.col("lat").alias("tlat"))
    t = C.with_cell_id(t, F.col("tlon"), F.col("tlat"), res)

    # explicit multiply, not ** 2: Spark's pow routes through Math.pow
    # (1-ulp bound, not guaranteed == x*x), and dist2 is OUTPUT here, so the
    # oracle hash would catch any ulp drift the kNN rank-only output hides
    dlon = F.col("qlon") - F.col("tlon")
    dlat = F.col("qlat") - F.col("tlat")
    dist2 = dlon * dlon + dlat * dlat
    return (q.join(t, "cell_id")
            .filter(F.col("query_id") != F.col("target_id"))
            .withColumn("dist2", dist2)
            .filter(F.col("dist2") <= F.lit(radius) * F.lit(radius))
            .select("query_id", "target_id", "dist2"))


def range_join_sql(points_cte: str, queries_filter: str, radius: float) -> str:
    """Brute-force DuckDB oracle: same metric, same double arithmetic
    (radius^2 via the same two literals, so the boundary compare is
    bit-identical).  The literal is 17-digit scientific notation: DuckDB
    parses bare decimals as DECIMAL and double-rounds (verified 1-ulp bug;
    ``::DOUBLE`` does not fix it)."""
    r = f"{radius:.17e}"
    return f"""
WITH pts AS ({points_cte}),
q AS (SELECT * FROM pts WHERE {queries_filter})
SELECT q.doc_id AS query_id, t.doc_id AS target_id,
       (q.lon - t.lon) * (q.lon - t.lon) + (q.lat - t.lat) * (q.lat - t.lat) AS dist2
FROM q JOIN pts t ON q.doc_id <> t.doc_id
WHERE (q.lon - t.lon) * (q.lon - t.lon) + (q.lat - t.lat) * (q.lat - t.lat)
      <= {r} * {r}
"""
