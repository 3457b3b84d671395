"""Resumable corpus-dedup job: spark-submit entry point.

    spark-submit --py-files dist/polycheck_spark.zip polycheck_spark/jobs/dedup_job.py \
        --pages 1000000 --buckets 16 --out /tmp/dedup_out

The second pipeline on the checkpoint layer (cf. pip_join_job.py): exact
text dedup of a Common-Crawl-style pages table, resumable per bucket.

Key property making per-bucket work GLOBALLY exact: pages are bucketed by a
hash of the TEXT digest, so every byte-identical copy lands in the same
bucket no matter which urls carry it — deduping inside a bucket is deduping
globally, with zero cross-bucket coordination.  Each bucket keeps the
url-smallest representative per distinct text (deterministic), commits
atomically via a lineage marker, and a killed job resumes from the last
finished bucket.  At 100 TB this is the shape that holds: one staging pass
over the source, then embarrassingly-parallel bucket jobs whose outputs
never overlap.
"""

from __future__ import annotations

import argparse

from pyspark.sql import functions as F

from polycheck_spark.data import synth
from polycheck_spark.io.tables import CheckpointedWriter

STAGE = "pages_by_digest"


def run_job(spark, num_pages: int, n_buckets: int, out_dir: str,
            dup_mod: int = 5, fail_on=None) -> dict:
    """Synthesizes pages with injected exact duplicates (every
    ``url-hash % dup_mod == 0`` page re-appears under ``url + '?d'``), then
    dedups them resumably.  Returns run stats + the committed snapshot."""
    writer = CheckpointedWriter(out_dir)

    def write(path):
        pages = synth.generate_pages(spark, num_pages)
        dups = (pages.filter(F.pmod(F.xxhash64("url"), F.lit(dup_mod)) == 0)
                .withColumn("url", F.concat(F.col("url"), F.lit("?d"))))
        both = pages.unionByName(dups).withColumn("text_md5", F.md5("text"))
        # bucket by the DIGEST, not the url: byte-identical texts collapse
        # into one bucket, making per-bucket dedup globally exact
        (both.withColumn(
            "bucket",
            F.pmod(F.conv(F.substring("text_md5", 1, 8), 16, 10).cast("long"),
                   F.lit(n_buckets)).cast("int"))
         .write.mode("overwrite").partitionBy("bucket").parquet(path))

    staged = writer.stage(STAGE, {"pages": num_pages, "buckets": n_buckets,
                                  "dup_mod": dup_mod}, write)

    def build_bucket(k: int):
        bucket = writer.read_bucket(spark, staged, "bucket", k)
        keep = (bucket.groupBy("text_md5")
                .agg(F.min("url").alias("url"),
                     F.count(F.lit(1)).alias("n_dups")))
        # rejoin the representative row so the output is the deduped CORPUS
        # (byte-identical text preserved), not just a digest list
        return (bucket.join(keep, ["text_md5", "url"], "inner")
                .select("url", "warc_ts", "lang", "text", "text_md5", "n_dups"))

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
    spark = get_spark("dedup_job")
    out = run_job(spark, args.pages, args.buckets, args.out)
    print(out["snapshot"])


if __name__ == "__main__":
    main()
