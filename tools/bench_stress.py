"""Large-input stress evidence for the round-3 operators.

The driver's correctness gate runs at sf0.01 and bench.py at sf0.1; this
harness runs the NEW operator families at 100-1000x those volumes on
synthetic inputs (same deterministic generators) so the scale claims in
BENCH/BASELINE.md are measured, not argued:

* tile_rollup     — 12 M geocoded pages, res 12 -> 4 pyramid (9 levels)
* range_join      — 2 M targets x ~20 k queries, radius 2 deg
* dedup_exact     — 2 M pages (10% injected duplicates)
* minhash_lsh     — 200 k pages (banded candidates over ~10 M shingles)
* connected_components — 1 M vertices, 1 M edges (random + chain mix)
* near_dup (arrow)     — 300 k dim-32 embeddings, corpus-scaled plane count,
                         recall on injected perturbation copies

Usage: python tools/bench_stress.py  -> one JSON line + BENCH/stress.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from polycheck_spark.session import get_spark
    spark = get_spark("stress", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from polycheck_spark.data import synth
    from polycheck_spark.operators import dedup as D, pip_join as PJ
    from polycheck_spark.operators.range_join import range_join

    out: dict = {"cpus": cpus}

    # --- tile_rollup: 12M points, 9 levels -----------------------------------
    n_pts = 12_000_000
    pts = synth.geocoded_pages(spark, n_pts).select("url", "lon", "lat")
    t0 = time.time()
    rows = PJ.tile_rollup(pts, res_fine=12, res_coarse=4).count()
    dt = time.time() - t0
    out["tile_rollup_12m"] = {"points": n_pts, "levels": 9, "out_cells": rows,
                              "sec": round(dt, 2),
                              "pts_per_sec": round(n_pts / dt)}

    # --- range_join: 2M targets x ~20k queries -------------------------------
    n_t = 2_000_000
    tgt = synth.geocoded_pages(spark, n_t).select(
        F.xxhash64("url").alias("pid"), "lon", "lat")
    q = tgt.filter(F.pmod(F.col("pid"), F.lit(100)) == 0)
    t0 = time.time()
    pairs = range_join(q, tgt, 2.0, query_id="pid", target_id="pid").count()
    dt = time.time() - t0
    out["range_join_2m"] = {"targets": n_t, "radius_deg": 2.0, "pairs": pairs,
                            "sec": round(dt, 2),
                            "targets_per_sec": round(n_t / dt)}

    # --- dedup_exact: 2M pages, 10% dups -------------------------------------
    n_p = 2_000_000
    pages = synth.generate_pages(spark, n_p)
    dups = (pages.filter(F.pmod(F.xxhash64("url"), F.lit(10)) == 0)
            .withColumn("url", F.concat(F.col("url"), F.lit("?d"))))
    corpus = pages.unionByName(dups).select("url", "text")
    t0 = time.time()
    groups = D.exact_duplicates(corpus, id_col="url").count()
    dt = time.time() - t0
    out["dedup_exact_2m"] = {"docs": int(n_p * 1.1), "dup_groups": groups,
                             "sec": round(dt, 2),
                             "docs_per_sec": round(n_p * 1.1 / dt)}

    # --- minhash_lsh: 200k pages + 5% injected dups --------------------------
    # random synthetic texts share no shingles, so without injection the
    # candidate count is trivially 0; the dups make recall visible
    n_m = 200_000
    base = (synth.generate_pages(spark, n_m)
            .select(F.xxhash64("url").alias("doc_id"), "text"))
    mdup = (base.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 0)
            .select((F.col("doc_id") + 1).alias("doc_id"), "text"))
    mdocs = base.unionByName(mdup)
    n_inj = mdup.count()
    t0 = time.time()
    cand = D.lsh_candidate_pairs(mdocs, max_band_freq=64).count()
    dt = time.time() - t0
    out["minhash_lsh_200k"] = {"docs": n_m + n_inj, "injected_dups": n_inj,
                               "candidates": cand, "sec": round(dt, 2),
                               "docs_per_sec": round((n_m + n_inj) / dt),
                               "max_band_freq": 64}

    # --- pip_join_df: 100k polygons x 1M points (the 10^5+-polygon path) -----
    # small deterministic triangles spread over the world; the polygon side
    # is a DATAFRAME — cover expansion, vertex transport, per-batch CSR
    # packing all distributed, shuffle equi-join on cell_id
    n_poly, n_pt = 100_000, 1_000_000
    cx = (F.pmod(F.col("id") * 37 + 11, F.lit(3500)) / 10.0 - 175.0)
    cy = (F.pmod(F.col("id") * 53 + 7, F.lit(1700)) / 10.0 - 85.0)
    polys = spark.range(n_poly).select(
        F.col("id").alias("polygon_id"),
        F.array(cx.cast("float"), (cx + 0.8).cast("float"),
                (cx + 0.4).cast("float")).alias("xs"),
        F.array(cy.cast("float"), cy.cast("float"),
                (cy + 0.7).cast("float")).alias("ys"))
    pj_pts = synth.geocoded_pages(spark, n_pt).select("url", "lon", "lat")
    t0 = time.time()
    hits = PJ.pip_join_df(pj_pts, polys, cover_res=8).count()
    dt = time.time() - t0
    out["pip_join_df_100k_polys"] = {"polygons": n_poly, "points": n_pt,
                                     "hits": hits, "sec": round(dt, 2),
                                     "pts_per_sec": round(n_pt / dt)}

    # --- connected components: 1M vertices, ~1M edges ------------------------
    n_v = 1_000_000
    verts = spark.range(n_v).select(F.col("id"))
    rnd = spark.range(n_v).select(
        (F.pmod(F.xxhash64(F.col("id") * 2654435761), F.lit(n_v))).alias("a"),
        (F.pmod(F.xxhash64(F.col("id") * 1442695041 + 7), F.lit(n_v))).alias("b")) \
        .filter(F.col("a") != F.col("b"))
    t0 = time.time()
    comps = (D.connected_components(verts, rnd)
             .select("cluster_id").distinct().count())
    dt = time.time() - t0
    out["connected_components_1m"] = {"vertices": n_v, "components": comps,
                                      "sec": round(dt, 2),
                                      "edges_per_sec": round(n_v / dt)}

    # --- embedding near-dup: 300k dim-32 vectors, corpus-scaled planes -------
    # the QUERY operator at 100x its sf0.1 volume, in its scale
    # configuration (n_planes ~ log2(N/16) — the driver-checked 8-plane
    # setting is the oracle configuration, quadratic here); recall on the
    # injected perturbation copies is the quality evidence the SQL oracle
    # cannot give at this plane count
    from polycheck_spark.operators import similarity as SIM
    n_e, e_dim, e_mod, e_off = 300_000, 32, 20, 10_000_000
    n_planes = max(8, (n_e // 16 - 1).bit_length())
    ecorpus = synth.inject_perturbed_copies(
        synth.generate_embeddings(spark, n_e, e_dim), e_dim, e_mod, e_off)
    n_einj = ecorpus.count() - n_e
    t0 = time.time()
    got = SIM.near_dup_pairs(ecorpus, (3, 5), mode="lsh", dim=e_dim,
                             n_planes=n_planes)
    found_inj = got.filter(F.col("b") == F.col("a") + e_off).count()
    dt = time.time() - t0
    out["near_dup_300k"] = {"vectors": n_e + n_einj, "dim": e_dim,
                            "n_planes": n_planes, "injected": n_einj,
                            "injected_found": found_inj,
                            "recall": round(found_inj / n_einj, 4),
                            "sec": round(dt, 2),
                            "vecs_per_sec": round((n_e + n_einj) / dt)}

    # --- simhash wide pair join: 250k docs at the 60-bit scale width ---------
    # the width-scaling claim measured: at 16 bits the band key space is
    # 2^5-2^6 and this corpus would be quadratic (every band value hot); at
    # 60 bits each Hamming-2 band has 2^20 values, so only true near-dups
    # collide.  Verbatim injected copies (identical signature, Hamming 0)
    # must ALL be found — banding recall is 1 by construction.
    n_s = 250_000
    sbase = (synth.generate_pages(spark, n_s)
             .select(F.xxhash64("url").alias("doc_id"), "text"))
    sdup = (sbase.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 0)
            .select((F.col("doc_id") + 1).alias("doc_id"), "text"))
    sdocs = sbase.unionByName(sdup)
    n_sinj = sdup.count()
    t0 = time.time()
    spairs = D.simhash_near_pairs(sdocs, 2, bits=60)
    sfound = spairs.filter(F.col("b") == F.col("a") + 1).count()
    dt = time.time() - t0
    out["simhash_pairs_wide_250k"] = {
        "docs": n_s + n_sinj, "bits": 60, "max_hamming": 2,
        "injected": n_sinj, "injected_found": sfound,
        "recall": round(sfound / n_sinj, 4), "sec": round(dt, 2),
        "docs_per_sec": round((n_s + n_sinj) / dt)}

    # --- boilerplate-line removal: 2M lined pages ----------------------------
    # every third page carries the shared boilerplate line; the strip must
    # drop exactly those lines and nothing else (organic lines are unique
    # per page at this corpus size)
    from polycheck_spark.operators import text as TX
    n_b = 2_000_000
    bp = "all rights reserved terms of service apply"
    bpages = synth.generate_pages(spark, n_b).select(
        F.xxhash64("url").alias("doc_id"),
        F.when(F.pmod(F.xxhash64("url"), F.lit(3)) == 0,
               F.concat(F.lit(bp + "\n"), F.col("text")))
         .otherwise(F.col("text")).alias("text"))
    t0 = time.time()
    stripped = TX.strip_boilerplate(bpages, 5)
    dropped = stripped.agg(
        F.sum(F.col("n_lines") - F.col("n_lines_kept"))).collect()[0][0]
    dt = time.time() - t0
    out["boilerplate_strip_2m"] = {
        "docs": n_b, "lines_dropped": int(dropped), "sec": round(dt, 2),
        "docs_per_sec": round(n_b / dt)}

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/stress.json", "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
