"""Resumable PIP-join job: spark-submit entry point.

    spark-submit --py-files polycheck_spark.zip polycheck_spark/jobs/pip_join_job.py \
        --pages 1000000 --buckets 16 --out /tmp/pip_out

Write-once-read-pruned: the source is scanned ONCE and materialized
partitioned by a url-hash bucket id; each bucket's pipeline then runs over a
partition-pruned read of its own directory (the 100 TB analog: one pass over
the source table, never n_buckets rescans).  Each bucket commits atomically
(lineage marker), so a killed job resumes from the last finished bucket —
staging itself is marker-guarded the same way.  Deterministic inputs plus
deterministic bucket assignment give exactly-once output.
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F

from polycheck_spark.data import synth
from polycheck_spark.data.polygons import default_query_layer
from polycheck_spark.io.tables import CheckpointedWriter
from polycheck_spark.operators import pip_join as PJ

STAGE = "pages"


def run_job(spark, num_pages: int, n_buckets: int, out_dir: str,
            fail_on=None) -> dict:
    layer = default_query_layer()
    writer = CheckpointedWriter(out_dir)

    # stage 0 (once): ONE scan of the source, written partitioned by bucket
    def write(path):
        pages = synth.geocoded_pages(spark, num_pages)
        (pages.withColumn(
            "bucket",
            F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int"))
         .write.mode("overwrite").partitionBy("bucket").parquet(path))

    staged = writer.stage(STAGE, {"pages": num_pages, "buckets": n_buckets},
                          write)

    def build_bucket(k: int):
        bucket = writer.read_bucket(spark, staged, "bucket", k)
        joined = PJ.pip_join(spark, bucket, layer)
        return joined.select("url", "polygon_id", "cell_id", "lon", "lat",
                             F.sha2(F.col("text"), 256).alias("text_sha"))

    result = writer.run(list(range(n_buckets)), build_bucket, fail_on=fail_on)
    snapshot = writer.commit_snapshot()
    return {"run": result, "snapshot": snapshot}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=100_000)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    from polycheck_spark.session import get_spark
    spark = get_spark("pip_join_job")
    out = run_job(spark, args.pages, args.buckets, args.out)
    print(out["snapshot"])


if __name__ == "__main__":
    main()
