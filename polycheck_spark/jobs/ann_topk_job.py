"""Resumable two-stage ANN top-k batch job: spark-submit entry point.

    spark-submit --py-files dist/polycheck_spark.zip polycheck_spark/jobs/ann_topk_job.py \
        --vecs 200000 --buckets 8 --out /tmp/ann_out

The fourth pipeline on the checkpoint layer (cf. pip_join_job.py,
dedup_job.py, near_dup_job.py): the batch-ANN shape a 100-TB embedding store
needs — IVF coarse quantization -> per-list staging -> per-bucket two-stage
scoring (int8 integer prefilter, exact double rescore) -> global top-k merge
— made kill-resumable at its expensive stage.

Resume granularity is the SCORING stage: work bucket k owns the IVF lists
with ``list_id % n_buckets == k``.  Disjointness is structural: a target
vector sits in exactly ONE list (argmax assignment), so every (query,
target) candidate pair — which exists only when the target's list is among
the query's probe lists — belongs to exactly one work bucket; the union of
bucket outputs is the exact candidate set, no cross-bucket coordination.

Staging writes each vector ONCE (unlike near_dup_job's one-bit-probe staging —
IVF probes fan out on the QUERY side, which is small by contract): vec_id +
int8 quantized copy + float vector, partitioned by work bucket, plus the
tiny probed-query table.  Per bucket, stage 1 scans ONLY (vec_id, list_id,
tq) — the int8 column, 8x fewer bytes than the doubles — computes integer
dot products against the bucket's probe matrix per Arrow batch (bit-exact
under any batching: per-batch top-m is a superset prefilter of the
window'd bucket top-m), and stage 2 fetches floats by id for just the m
survivors per query and rescores with the exact Column cosine.  With
``top_m`` >= the bucket candidate count the prefilter is a no-op and the
job's output equals ivf_topk(...) bit-for-bit (pinned by
tests/test_resume.py); at the default m it is the standard re-rank
trade, deterministic either way.

The closing merge is one window over the committed per-bucket top-k rows
(O(k * n_buckets) per query) and reruns idempotently on resume.

Reference: the reference engine has no ANN surface (its polycheck.py is a
kernel library); this is the LLM-data-pipeline surface the brief adds.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pandas as pd
from pyspark.sql import Window, functions as F, types as T

from polycheck_spark.data import synth
from polycheck_spark.io.tables import CheckpointedWriter
from polycheck_spark.operators import similarity as SIM
from polycheck_spark.session import local_frame

STAGE = "emb_by_list"


def _quant_col(vec):
    """int8 floor-quantization, identical to quantized_topk's Column quant
    (scale rides an array_repeat ARGUMENT — the HOF re-evaluation trap)."""
    return F.zip_with(vec, F.array_repeat(SIM._quant_scale(vec), F.size(vec)),
                      lambda x, s: F.floor(x * s).cast("int"))


def run_job(spark, num_vecs: int, n_buckets: int, out_dir: str,
            dim: int = 64, k: int = 10, n_probe: int = SIM.IVF_NPROBE,
            q_mod: int = 101, top_m: int | None = None,
            n_centroids: int = SIM.IVF_CENTROID_BUDGET,
            fail_on=None) -> dict:
    """Synthesizes a deterministic embedding corpus, takes every
    ``vec_id % q_mod == 0`` vector as a query, and computes each query's
    top-k neighbors over its ``n_probe`` nearest IVF lists, resumably.
    Returns run stats + snapshot + result path.

    ``top_m`` (default 4k) is the per-(query, bucket) integer-prefilter
    width; pass a value >= the largest bucket candidate count to disable
    pruning (then the output equals ivf_topk exactly)."""
    if top_m is None:
        top_m = 4 * k
    writer = CheckpointedWriter(out_dir)
    mod = SIM._centroid_modulus(num_vecs, n_centroids)

    def corpus():
        return synth.generate_embeddings(spark, num_vecs, dim)

    def centroids():
        return corpus().filter(F.col("vec_id") % mod == 0).select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").cast("array<double>").alias("cvec"))

    def write(path):
        cents = centroids()
        t = corpus().select(F.col("vec_id"),
                            F.col("embedding").cast("array<double>").alias("embedding"))
        assigned = SIM._assign_lists(t, cents, "vec_id", "embedding", 1)
        (assigned
         .withColumn("tq", _quant_col(F.col("embedding")))
         .withColumn("wb", F.pmod(F.col("list_id"), F.lit(n_buckets)).cast("int"))
         .write.mode("overwrite").partitionBy("wb").parquet(f"{path}/vectors"))
        q = t.filter(F.col("vec_id") % q_mod == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        probed = SIM._assign_lists(q, cents, "query_id", "qvec", n_probe)
        (probed
         .withColumn("qq", _quant_col(F.col("qvec")))
         .withColumn("wb", F.pmod(F.col("list_id"), F.lit(n_buckets)).cast("int"))
         .write.mode("overwrite").parquet(f"{path}/probes"))

    # k and top_m shape every bucket's output, not the staged data: they
    # are here so a change to either resets the bucket lineage
    staged = writer.stage(STAGE, {"vecs": num_vecs, "buckets": n_buckets,
                                  "dim": dim, "n_probe": n_probe,
                                  "q_mod": q_mod, "k": k, "top_m": top_m,
                                  "n_centroids": n_centroids}, write)
    probes_dir = f"{staged}/probes"

    def build_bucket(kb: int):
        # the bucket's probe table is SMALL by contract (queries x n_probe /
        # n_buckets rows) — collected to a per-list matrix for BLAS-free
        # integer matmuls per Arrow batch
        probes = (spark.read.parquet(probes_dir)
                  .filter(F.col("wb") == kb)
                  .select("query_id", "list_id", "qq").collect())
        if not probes:
            return local_frame(
                spark, [], "query_id long, target_id long, cosine double")
        by_list: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for lid in {r["list_id"] for r in probes}:
            rows = [r for r in probes if r["list_id"] == lid]
            by_list[lid] = (
                np.array([r["query_id"] for r in rows], dtype=np.int64),
                np.array([r["qq"] for r in rows], dtype=np.int64))

        schema = T.StructType([
            T.StructField("query_id", T.LongType()),
            T.StructField("target_id", T.LongType()),
            T.StructField("iscore", T.LongType()),
        ])

        def stage1(batches):
            for pdf in batches:
                out_q, out_t, out_s = [], [], []
                for lid, grp in pdf.groupby("list_id"):
                    probe = by_list.get(lid)
                    if probe is None:
                        continue
                    qids, qmat = probe
                    tids = grp["vec_id"].to_numpy(np.int64)
                    tmat = np.array(list(grp["tq"]), dtype=np.int64)
                    scores = tmat @ qmat.T                   # B x Q, exact int64
                    # self-match sentinel: int64 min + 1, NOT int64 min —
                    # lexsort negates the key and -int64_min overflows back
                    # to int64_min, which would sort self rows FIRST and
                    # burn a top-m slot before the keep filter drops them
                    self_sentinel = np.iinfo(np.int64).min + 1
                    scores[tids[:, None] == qids[None, :]] = self_sentinel
                    mm = min(top_m, scores.shape[0])
                    for j in range(scores.shape[1]):
                        order = np.lexsort((tids, -scores[:, j]))[:mm]
                        keep = order[scores[order, j] != self_sentinel]
                        out_q.append(np.full(len(keep), qids[j], dtype=np.int64))
                        out_t.append(tids[keep])
                        out_s.append(scores[keep, j])
                empty = np.array([], dtype=np.int64)
                yield pd.DataFrame({
                    "query_id": np.concatenate(out_q) if out_q else empty,
                    "target_id": np.concatenate(out_t) if out_t else empty,
                    "iscore": np.concatenate(out_s) if out_s else empty,
                })

        part = writer.read_bucket(spark, f"{staged}/vectors", "wb", kb)
        # stage 1 reads ONLY the int8 column (ReadSchema prunes the doubles)
        partial = (part.select("vec_id", "list_id", "tq")
                   .mapInPandas(stage1, schema))
        w1 = Window.partitionBy("query_id").orderBy(
            F.col("iscore").desc(), F.col("target_id").asc())
        survivors = (partial.withColumn("mrank", F.row_number().over(w1))
                     .filter(F.col("mrank") <= top_m)
                     .select("query_id", "target_id"))
        # stage 2: floats fetched by id for just the survivors, exact Column
        # cosine (the same _cosine expr ivf_topk uses — bit-identical)
        tvecs = part.select(F.col("vec_id").alias("target_id"),
                            F.col("embedding").alias("tvec"))
        qvecs = (spark.read.parquet(probes_dir)
                 .filter(F.col("wb") == kb)
                 .select("query_id", "qvec").distinct())
        cand = survivors.join(tvecs, "target_id").join(F.broadcast(qvecs), "query_id")
        cos = SIM._cosine(F.col("qvec"), F.col("tvec"))
        w2 = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("target_id").asc())
        return (cand.select("query_id", "target_id", cos.alias("cosine"))
                .withColumn("rank", F.row_number().over(w2))
                .filter(F.col("rank") <= k)
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
