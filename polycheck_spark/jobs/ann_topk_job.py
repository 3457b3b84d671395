"""Resumable two-stage ANN top-k batch job: spark-submit entry point.

    spark-submit --py-files dist/polycheck_spark.zip polycheck_spark/jobs/ann_topk_job.py \
        --vecs 200000 --buckets 8 --out /tmp/ann_out

The fourth pipeline on the checkpoint layer (cf. pip_join_job.py,
dedup_job.py, near_dup_job.py): the batch-ANN shape a 100-TB embedding store
needs — IVF coarse quantization -> per-list staging -> per-bucket two-stage
scoring (int8 integer prefilter, exact double rescore) -> global top-k merge
— made kill-resumable at its expensive stage.  The job runs the kernels of
the oracle-checked operators: the driver-collected centroids, list
assignment and query probe lists of ``ivf_topk``, and the int8 scorer and
two-window rerank of ``quantized_topk``, masked to each query's probed
lists as ``ivf_topk`` masks its exact scorer.

Resume granularity is the SCORING stage: work bucket k owns the IVF lists
whose index (``list_id // centroid modulus``) is k modulo ``n_buckets``, so
lists spread evenly over the buckets.  Disjointness is structural: a target
vector sits in exactly ONE list (argmax assignment), so every (query,
target) candidate pair — which exists only when the target's list is among
the query's probe lists — belongs to exactly one work bucket; the union of
bucket outputs is the exact candidate set, no cross-bucket coordination.

Staging writes each vector ONCE as (vec_id, list_id, embedding), partitioned
by work bucket (unlike near_dup_job's one-bit-probe staging — IVF probes fan
out on the QUERY side, which is small by contract and collected on the
driver with the budget-bounded centroid set).  Per bucket, one Arrow-batch
pass scores the bucket's vectors against the queries that probe any of its
lists: the integer dot of the int8 copies and, for each query's top
``top_m`` by (integer score desc, id asc) per batch, the dim-ordered-fold
cosine.  Two windows then keep each query's bucket top ``top_m`` by integer
score and rank those by cosine down to ``k`` — no vector rejoin.  With
``top_m`` >= the bucket candidate count the prefilter is a no-op and the
job's output equals ivf_topk(...) bit-for-bit (pinned by
tests/test_resume.py); at the default m it is the standard re-rank trade,
deterministic either way.

The closing merge is one window over the committed per-bucket top-k rows
(O(k * n_buckets) per query) and reruns idempotently on resume.

Reference: the reference engine has no ANN surface (its polycheck.py is a
kernel library); this is the LLM-data-pipeline surface the brief adds.
"""

from __future__ import annotations

import argparse
import functools
import os

from pyspark.sql import Window, functions as F

from polycheck_spark.data import synth
from polycheck_spark.io.tables import CheckpointedWriter
from polycheck_spark.operators import similarity as SIM
from polycheck_spark.session import local_frame

STAGE = "emb_by_list"
#: staged columns and work-bucket rule — a marker written for another
#: layout re-stages
LAYOUT = "vec_id,list_id,embedding; wb = list index % buckets"


def run_job(spark, num_vecs: int, n_buckets: int, out_dir: str,
            dim: int = 64, k: int = 10, n_probe: int = SIM.IVF_NPROBE,
            q_mod: int = 101, top_m: int | None = None,
            fail_on=None) -> dict:
    """Synthesizes a deterministic embedding corpus, takes every
    ``vec_id % q_mod == 0`` vector as a query, and computes each query's
    top-k neighbors over its ``n_probe`` nearest IVF lists (the
    ``SIM.IVF_CENTROID_BUDGET`` centroids of ``ivf_topk``), resumably.
    Returns run stats + snapshot + result path.

    ``top_m`` (default 4k) is the per-(query, bucket) integer-prefilter
    width; pass a value >= the largest bucket candidate count to disable
    pruning (then the output equals ivf_topk exactly)."""
    if top_m is None:
        top_m = 4 * k
    writer = CheckpointedWriter(out_dir)
    # centroid ids are the multiples of mod, so list_id // mod numbers the
    # lists 0, 1, 2, ... and consecutive lists go to consecutive work
    # buckets; list_id % n_buckets would leave empty every bucket that
    # shares a factor with mod (at 20k vectors and 6 buckets, all but one)
    mod = SIM._centroid_modulus(num_vecs, SIM.IVF_CENTROID_BUDGET)
    corpus = synth.generate_embeddings(spark, num_vecs, dim)
    cents = SIM._ivf_centroids(corpus, num_vecs, SIM.IVF_CENTROID_BUDGET,
                               id_col="vec_id", vec_col="embedding")
    qids, qmat = SIM._collect_queries(
        corpus.filter(F.col("vec_id") % q_mod == 0), "vec_id", "embedding")
    qprobe = SIM._ivf_probe_lists(cents, qmat, n_probe)

    def write(path):
        (SIM.ivf_lists(corpus, cents)
         .withColumn("wb", F.expr(f"pmod(list_id div {mod}, {n_buckets})").cast("int"))
         .write.mode("overwrite").partitionBy("wb").parquet(path))

    # k, top_m, n_probe and q_mod shape every bucket's output, not the
    # staged data: they are here so a change to any resets the bucket lineage
    staged = writer.stage(STAGE, {"vecs": num_vecs, "buckets": n_buckets,
                                  "dim": dim, "n_probe": n_probe,
                                  "q_mod": q_mod, "k": k, "top_m": top_m,
                                  "n_centroids": SIM.IVF_CENTROID_BUDGET,
                                  "layout": LAYOUT}, write)

    def build_bucket(kb: int):
        # only the queries that probe one of this bucket's lists
        sel = (qprobe // mod % n_buckets == kb).any(axis=1)
        if not sel.any():
            return local_frame(
                spark, [], "query_id long, target_id long, cosine double")
        return (SIM._int8_rerank(
            writer.read_bucket(spark, staged, "wb", kb), qids[sel], qmat[sel],
            k, top_m, id_col="vec_id", vec_col="embedding",
            pair_mask=functools.partial(SIM._ivf_pair_mask, cents, qprobe[sel]))
            .select("query_id", "target_id", "cosine"))

    result = writer.run(list(range(n_buckets)), build_bucket, fail_on=fail_on)
    snapshot = writer.commit_snapshot()

    # closing merge: global top-k across buckets — O(k * n_buckets) rows per
    # query, deterministic over the committed bucket outputs, idempotent on
    # resume (overwrite semantics)
    parts = writer.read_output(spark)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("target_id").asc())
    topk = (parts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "target_id", F.col("rank").cast("long").alias("rank")))
    result_dir = os.path.join(out_dir, "topk")
    topk.write.mode("overwrite").parquet(result_dir)
    n_rows = spark.read.parquet(result_dir).count()
    return {"run": result, "snapshot": snapshot, "n_topk_rows": n_rows,
            "topk_path": result_dir}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--vecs", type=int, default=100_000)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    from polycheck_spark.session import get_spark
    spark = get_spark("ann_topk_job")
    out = run_job(spark, args.vecs, args.buckets, args.out,
                  dim=args.dim, k=args.k)
    print({"snapshot": out["snapshot"], "n_topk_rows": out["n_topk_rows"]})


if __name__ == "__main__":
    main()
