"""Secondary-workload scaling evidence: the ANN / similarity family at two
parallelism levels (same protocol as bench_scaling.py and its siblings).
This family is the engine's Arrow path — mapInPandas batches through
NumPy/BLAS — so unlike the JVM-threaded families its parallel unit is the
PYTHON WORKER POOL; this run demonstrates that path scales like the rest
of the engine.

Workload per level: synthesize ``VECS`` 64-dim embeddings by Column
formula (64 codegen'd trig expressions — no HOF lambdas, no Python in the
synthesis) -> exact brute-force cosine top-10 for a 64-query matrix via
``cosine_topk`` (per-batch BLAS candidate pick against the collected query
matrix, exact dim-ordered fold rescore + per-batch top-k, final window over
O(k * batches) survivors).  Output identity across levels is exact by
construction: per-batch top-k always contains the global top-k restricted
to the batch, and ties break on id — asserted via (row count, sum of
target ids, sum of ranks).

Protocol: identical input, identical partition count, separate JVMs at
local[N] and local[4N], best-of-REPEATS, plus the half-input marginal.
Writes BENCH/scaling_ann.json.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
VECS = int(os.environ.get("SCALING_ANN_VECS", "16000000"))
DIM = 64
N_QUERIES = 64
K = 10
REPEATS = int(os.environ.get("SCALING_ANN_REPEATS", "2"))
PARTITIONS = 64  # fixed across levels: vary workers only, never task grain
PRIMARY = (2, 8)


def _emb_col(d):
    """64 deterministic pseudo-random components per id — plain codegen'd
    trig Columns (cos of incommensurate multiples), no HOF, no Python."""
    from pyspark.sql import functions as F
    return F.array(*[
        F.cos(d * (0.000037 * (i + 1) + 0.0011) + i * 0.61803398875)
        for i in range(DIM)])


def worker(cpus: int) -> None:
    from pyspark.sql import functions as F
    from polycheck_spark.session import get_spark
    from polycheck_spark.operators import similarity as SIM

    spark = get_spark(f"scaling_ann_{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")

    def frame(n):
        return (spark.range(0, n, numPartitions=PARTITIONS)
                .select(F.col("id").alias("vec_id"),
                        _emb_col(F.col("id")).alias("embedding")))

    def run_once(n_vecs: int):
        emb = frame(n_vecs)
        queries = frame(N_QUERIES * 997).filter(
            F.col("vec_id") % 997 == 0)  # 64 spread query ids
        t0 = time.time()
        top = SIM.cosine_topk(emb, queries, K)
        row = top.agg(F.count(F.lit(1)).alias("n"),
                      F.sum("target_id").alias("tsum"),
                      F.sum("rank").alias("rsum")).collect()[0]
        return (time.time() - t0, int(row["n"]), int(row["tsum"]),
                int(row["rsum"]))

    run_once(200_000)  # warm-up: python workers, codegen, BLAS init
    t_full = t_half = None
    stats = None
    for _ in range(REPEATS):
        dt, *stats = run_once(VECS)
        t_full = dt if t_full is None else min(t_full, dt)
        dt_h, *_ = run_once(VECS // 2)
        t_half = dt_h if t_half is None else min(t_half, dt_h)
    marginal = (round((VECS - VECS // 2) / (t_full - t_half))
                if t_full > t_half else None)
    n, tsum, rsum = stats
    print(json.dumps({"cpus": cpus, "vecs": VECS, "queries": N_QUERIES,
                      "k": K, "sec": round(t_full, 3),
                      "sec_half": round(t_half, 3),
                      "rows": n, "target_id_sum": tsum, "rank_sum": rsum,
                      "vecs_per_sec": round(VECS / t_full),
                      "marginal_vecs_per_sec": marginal}))
    spark.stop()


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]))
        return
    results = {}
    # pin BLAS to one thread per python worker: the measurement varies the
    # WORKER count, and an internally-threaded matmul would let the 2-core
    # level borrow idle cores and corrupt the comparison
    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1",
               MKL_NUM_THREADS="1")
    for cpus in PRIMARY:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker", str(cpus)],
            capture_output=True, text=True, check=True, cwd=REPO, env=env)
        line = out.stdout.strip().splitlines()[-1]
        results[cpus] = json.loads(line)
        print(line, flush=True)
    from bench_scaling import calibrate
    cal = calibrate()
    print(json.dumps(cal), flush=True)

    lo, hi = PRIMARY
    for key in ("rows", "target_id_sum", "rank_sum"):
        assert results[lo][key] == results[hi][key], \
            f"output diverged across levels: {key}"

    def eff(key="vecs_per_sec"):
        a, b = results[lo].get(key), results[hi].get(key)
        if not a or not b:
            return None
        return round((b / a) / (hi / lo), 3)

    raw_eff, marg_eff = eff(), eff("marginal_vecs_per_sec")
    summary = {
        "workload": (f"exact BLAS cosine top-{K}, {VECS} x {DIM}-dim vectors, "
                     f"{N_QUERIES} queries (Arrow/mapInPandas fast path)"),
        "levels": results,
        "primary_pair": list(PRIMARY),
        "scaling_efficiency": raw_eff,
        "scaling_efficiency_marginal": marg_eff,
        "machine_calibration": cal,
        "target": 0.8,
        # same verdict rule as bench_scaling.py
        "pass": raw_eff >= 0.8 or (marg_eff is not None and marg_eff >= 0.8
                                   and raw_eff >= 0.6),
    }
    print(json.dumps(summary))
    with open(os.path.join(REPO, "BENCH", "scaling_ann.json"), "w") as f:
        json.dump(summary, f, indent=2)


if __name__ == "__main__":
    main()
