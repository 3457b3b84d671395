"""Resumable tile-pyramid job: spark-submit entry point.

    spark-submit --py-files dist/polycheck_spark.zip \
        polycheck_spark/jobs/tile_pyramid_job.py \
        --pages 1000000 --buckets 8 --out /tmp/pyr_out

The geo-family pipeline on the checkpoint layer (cf. pip_join_job.py's
spatial join and dedup_job.py's digest buckets): the multi-resolution
map-tile / hypertable rollup of a geocoded pages table, resumable per
bucket.

Key property making per-bucket work GLOBALLY exact: pages are bucketed by
their COARSE ANCESTOR TILE (the res_coarse cell), and Z-order subtrees
nest — every cell at any level in [res_coarse, res_fine] has exactly one
res_coarse ancestor, so a bucket's pyramid is precisely the global
pyramid restricted to its subtrees, with zero cross-bucket coordination
(the same disjointness argument as dedup_job's digest buckets, in tile
space).  The union of committed buckets therefore EQUALS the one-shot
``tile_rollup`` bit-for-bit — pinned by tests/test_resume.py.

At 100 TB this is the shape that holds: one staging pass over the corpus
(geocode + coarse cell, both pure Column arithmetic), then
embarrassingly-parallel subtree jobs whose output cell sets never
overlap; a hot metro area makes a big bucket, not a wrong one — split it
by raising res_coarse (more, smaller subtrees), the knob this layout
exposes by construction.
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F

from polycheck_spark.data import synth
from polycheck_spark.geo import cells as C
from polycheck_spark.io.tables import CheckpointedWriter
from polycheck_spark.operators import pip_join as PJ

STAGE = "points_by_subtree"


def run_job(spark, num_pages: int, n_buckets: int, out_dir: str,
            res_fine: int = 10, res_coarse: int = 4, fail_on=None) -> dict:
    """Synthesizes geocoded pages, stages them partitioned by a hash of
    their res_coarse ancestor cell, then rolls up each subtree bucket's
    pyramid independently.  Returns run stats + the committed snapshot."""
    if not 0 <= res_coarse <= res_fine <= C.MAX_RES:
        raise ValueError("need 0 <= res_coarse <= res_fine <= MAX_RES")
    writer = CheckpointedWriter(out_dir)

    def write(path):
        pts = synth.geocoded_pages(spark, num_pages).select("url", "lon", "lat")
        ix, iy = C.ixiy_cols(F.col("lon"), F.col("lat"), res_coarse)
        coarse = C.encode_col(ix, iy, res_coarse)
        (pts.withColumn("bucket",
                        F.pmod(F.xxhash64(coarse), F.lit(n_buckets))
                        .cast("int"))
         .write.mode("overwrite").partitionBy("bucket").parquet(path))

    staged = writer.stage(STAGE, {"pages": num_pages, "buckets": n_buckets,
                                  "res_fine": res_fine,
                                  "res_coarse": res_coarse}, write)

    def build_bucket(k: int):
        pts_k = writer.read_bucket(spark, staged, "bucket", k)
        return PJ.tile_rollup(pts_k, res_fine=res_fine, res_coarse=res_coarse)

    result = writer.run(list(range(n_buckets)), build_bucket, fail_on=fail_on)
    snapshot = writer.commit_snapshot()
    return {"run": result, "snapshot": snapshot}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=100_000)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--res-fine", type=int, default=10)
    ap.add_argument("--res-coarse", type=int, default=4)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    from polycheck_spark.session import get_spark
    spark = get_spark("tile_pyramid_job")
    out = run_job(spark, args.pages, args.buckets, args.out,
                  res_fine=args.res_fine, res_coarse=args.res_coarse)
    print(out["snapshot"])


if __name__ == "__main__":
    main()
