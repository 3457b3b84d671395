"""Resumable train-export job: the dataloader handoff.

    spark-submit --py-files dist/polycheck_spark.zip \\
        polycheck_spark/jobs/train_export_job.py \\
        --pages 100000 --buckets 8 --shards 8 --budget 512 --out /tmp/tx

The seventh pipeline on the checkpoint layer — the END of the
training-data line: it composes the full cleaning job (corpus_clean_job,
itself resumable; its checkpoint tree nests under ``out/clean``), lays the
surviving corpus into fixed-token-budget training bins with the
closed-form concat-and-chunk layout (:func:`~polycheck_spark.operators.
packing.pack_chunks`), and exports the result as SHARDED, manifest-tracked
parquet — one file per shard, rows sorted by (lang, start_off), so a
dataloader can map shard -> contiguous token stream slices.

Resume granularity is the export SHARD: bins are assigned to shards by
hash(lang, bin_id), the packed layout is staged once (write-once marker),
and each shard commits through CheckpointedWriter's atomic lineage
markers.  Killed between shards, a re-submit skips committed shards and
the final export is byte-identical to a clean run; killed inside the inner
cleaning job, ITS bucket lineage resumes first (nested resumability).

Scale notes: the packing window is per-(lang, shard-key) — the job passes
the documented group-shard key (packing.py scale contract) so no single
sequential walk exceeds ``group_span`` documents; shard export is one
partition-pruned read + local sort each, no corpus-wide shuffle beyond
the one window.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import functions as F

from polycheck_spark.io.tables import CheckpointedWriter
from polycheck_spark.jobs.corpus_clean_job import run_job as clean_run
from polycheck_spark.operators.packing import pack_chunks
from polycheck_spark.operators.text import tokens_col

STAGE = "packed_by_shard"
EXPORT_COLS = ("doc_key", "url", "lang", "pack_shard", "text", "n_tokens",
               "start_off", "bin_id", "end_bin", "straddles")
#: crash injection for the inner cleaning job (a bucket predicate), for the
#: resume tests
CLEAN_FAIL_ON = None


def run_job(spark, num_pages: int, n_buckets: int, out_dir: str, *,
            budget: int = 512, n_shards: int = 8,
            fail_on=None) -> dict:
    """Returns {clean, export_snapshot, n_docs, n_bins, export_dir}.

    Packing runs one stream per lang (``pack_shard`` is 0 in every row;
    the column keeps the export layout's group key).  ``fail_on`` and
    :data:`CLEAN_FAIL_ON` are the test crash hooks (export shard / inner
    clean bucket)."""
    clean_dir = os.path.join(out_dir, "clean")
    clean_res = clean_run(spark, num_pages, n_buckets, clean_dir,
                          fail_on=CLEAN_FAIL_ON)

    exporter = CheckpointedWriter(os.path.join(out_dir, "export"))
    def write(path):
        corpus = spark.read.parquet(clean_res["final_dir"])
        counted = (corpus.withColumn(
            "n_tokens", F.size(tokens_col(F.col("text"))))
            .withColumn("pack_shard", F.lit(0).cast("long")))
        layout = pack_chunks(counted, budget,
                             group_cols=("lang", "pack_shard"),
                             id_col="doc_key")
        packed = (counted.select("doc_key", "url", "text")
                  .join(layout, "doc_key")
                  .withColumn("shard",
                              F.pmod(F.xxhash64("lang", "bin_id"),
                                     F.lit(n_shards)).cast("int")))
        (packed.select("shard", *EXPORT_COLS)
         .write.mode("overwrite").partitionBy("shard").parquet(path))

    staged = exporter.stage(STAGE, {"pages": num_pages,
                                    "clean_buckets": n_buckets,
                                    "budget": budget, "shards": n_shards,
                                    "pack_shards": 1}, write)

    def build_shard(k: int):
        # partition-pruned read; one file per shard, rows in stream order —
        # the layout a sequential dataloader consumes without a sort
        return (exporter.read_bucket(spark, staged, "shard", k)
                .coalesce(1)
                .sortWithinPartitions("lang", "pack_shard", "start_off"))

    run = exporter.run(list(range(n_shards)), build_shard, fail_on=fail_on)
    snap = exporter.commit_snapshot()
    export = exporter.read_output(spark)
    n_bins = export.select("lang", "pack_shard", "bin_id").distinct().count()
    return {
        "clean": clean_res,
        "export_run": run,
        "export_snapshot": snap,
        "n_docs": snap["total_rows"],
        "n_bins": n_bins,
        "export_dir": os.path.join(out_dir, "export"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=100_000)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--budget", type=int, default=512)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    from polycheck_spark.session import get_spark
    spark = get_spark("train_export_job")
    res = run_job(spark, args.pages, args.buckets, args.out,
                  budget=args.budget, n_shards=args.shards)
    print({"snapshot_id": res["export_snapshot"]["snapshot_id"],
           "n_docs": res["n_docs"], "n_bins": res["n_bins"],
           "export_dir": res["export_dir"]})
    spark.stop()


if __name__ == "__main__":
    main()
