"""One measurement protocol for the engine's scaling, stress and A/B evidence.

Every measured workload lives once in the registry below, with its body, its
input size, the invariants it asserts and the reason for its shape.  Three
protocols run over it:

* ``scaling <workload>`` — the north rule's N-vs-4N evidence.  No real
  cluster exists, so the SAME job runs on the SAME input in separate JVMs at
  ``local[N]`` and ``local[4N]`` (4N = ``session.default_cpus()``, N = 4N/4),
  best-of-2 at full and at half input.  Raw efficiency = (throughput@4N /
  throughput@N) / 4; the half-input marginal cancels fixed per-job setup
  (scheduling, broadcast, Python-worker spin-up) that a long-running cluster
  job would amortize.  The partition count is fixed across levels (only the
  worker count varies, never the task grain), both levels must compute
  identical outputs, and a machine calibration (parallel NumPy processes, no
  Spark) at the same two levels shows the hardware's own ceiling.
  Writes ``BENCH/<out>.json``.
* ``stress <group>`` — large-input evidence: one JVM, one timed run per
  entry, every invariant asserted.  Writes ``BENCH/<group>.json``.
* ``ab <workload> --against DIR`` — the working tree against a second source
  tree (e.g. an extracted parent commit): 10 interleaved pairs, order
  alternating, one process per sample, each sample with the one-core kernel
  canary ``bench.bench_kernel_pip``.  Prints medians, quartiles, pairs won.

``--scale F`` multiplies every input size (0.01 is a smoke run).  ``ab knn``
reads ``$SPARK_GRAFT_SF_DIR``; ``SPARK_GRAFT_CPUS=32`` gives the 8 -> 32 pair.

Usage:
    python tools/measure.py scaling pip --scale 0.25
    python tools/measure.py stress stress_r7b
    python tools/measure.py ab knn --against ../parent
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "BENCH")
REPEATS = 2       # best-of-2 at each input size
PARTITIONS = 64   # fixed across levels: vary workers only, never task grain
AB_PAIRS = 10
TARGET = 0.8


class _Program:
    """A program module imported on first use: ``main()`` first puts the source tree under
    measurement at the front of ``sys.path``."""

    def __init__(self, name: str):
        self._name = name

    def __getattr__(self, attr):
        return getattr(importlib.import_module(self._name), attr)


E, S, synth, POLY, C = map(_Program, ("__spark_entry__", "polycheck_spark.session",
    "polycheck_spark.data.synth", "polycheck_spark.data.polygons", "polycheck_spark.geo.cells"))
D, G, KNN, MM, P, PJ, RJ, SIM, TP, TX, W = (_Program(f"polycheck_spark.operators.{m}") for m in (
    "dedup", "graph", "knn", "multimodal", "pii", "pip_join", "range_join", "similarity",
    "temporal", "text", "web"))


# --- protocol arithmetic (pure; pinned by tests/test_measure.py) -------------

def efficiency(rate_lo, rate_hi, lo: int, hi: int) -> float | None:
    """(rate@hi / rate@lo) / (hi / lo); None when either rate is missing (a marginal invalidated by
    a timing inversion at one level)."""
    if not rate_lo or not rate_hi:
        return None
    return round((rate_hi / rate_lo) / (hi / lo), 3)


def marginal(units: int, units_half: int, sec: float, sec_half: float):
    """Throughput of the second half of the input. A timing inversion (full <= half, host noise)
    makes it meaningless: None, not an absurd number."""
    return round((units - units_half) / (sec - sec_half)) if sec > sec_half else None


def passes(raw: float | None, marg: float | None) -> bool:
    """The raw measurement is the verdict; a valid marginal can rescue a raw reading depressed by
    fixed setup, but never below 0.6 raw."""
    if raw is None:
        return False
    return raw >= TARGET or (marg is not None and marg >= TARGET and raw >= 0.6)


def check_identical(results: dict, keys) -> None:
    """Identical inputs must give identical outputs at every level."""
    for key in keys:
        if len({r[key] for r in results.values()}) != 1:
            raise AssertionError(f"output diverged across levels: {key} "
                                 f"{ {c: r[key] for c, r in results.items()} }")


def ab_summary(work: list[float], against: list[float]) -> dict:
    """Per-side median and quartiles of the sample seconds, and the pairs each side won (lower
    seconds; a tie counts for neither)."""
    def quartiles(xs):
        q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        return {"median": round(med, 3), "q1": round(q1, 3), "q3": round(q3, 3),
                "iqr": round(q3 - q1, 3)}
    return {"work": quartiles(work), "against": quartiles(against),
            "pairs_won": {"work": sum(w < a for w, a in zip(work, against)),
                          "against": sum(a < w for w, a in zip(work, against))}}


# --- the registry ------------------------------------------------------------

def _sized(n: float, scale: float) -> int:
    return max(1, int(n * scale))


@dataclass
class Workload:
    name: str
    body: Callable          # (spark, sizes, partitions) -> {"sec": s, <checks>...}
    sizes: dict             # full input at --scale 1
    warm: dict              # warm-up input (capped at half the scaled input)
    checks: tuple           # outputs that must agree across levels / trees
    out: str = ""           # BENCH/<out>.json of the scaling protocol
    rate: str = "docs"      # per-level "<rate>_per_sec" field
    fixed: dict = field(default_factory=dict)  # unscaled per-level fields
    title: str = ""         # str.format'ed with the sizes and the N-level result

    def scaled(self, scale: float) -> dict:
        return {k: _sized(v, scale) for k, v in self.sizes.items()}

    def warm_sizes(self, sizes: dict) -> dict:
        return {k: min(self.warm[k], max(1, n // 2)) for k, n in sizes.items()}


WORKLOADS: dict[str, Workload] = {}


def workload(name, **kw):
    def reg(body):
        WORKLOADS[name] = Workload(name, body, **kw)
        return body
    return reg


# stress entries: group -> {output key: fn(spark, scale, cpus) -> dict}
STRESS: dict[str, dict] = {g: {} for g in ("stress", "stress_r7", "stress_r7b", "skew")}


def stress_entry(group: str, key: str):
    def reg(fn):
        STRESS[group][key] = fn
        return fn
    return reg


# --- scaling workloads -------------------------------------------------------

def heavy_layer(n: int = 100, v: int = 1024) -> list[dict]:
    """Deterministic n x v-vertex polygon layer: compute-bound PIP work."""
    out = []
    for k in range(n):
        cx = -180.0 + 360.0 * (((k + 3) * 0.7548776662466927) % 1.0)
        cy = -60.0 + 120.0 * (((k + 3) * 0.5698402909980532) % 1.0)
        r = 8.0 + (k % 5) * 3.0
        verts = [(round((cx + r * math.cos(2 * math.pi * j / v + k)) * 16) / 16,
                  round(max(-89.0, min(89.0, cy + r * math.sin(2 * math.pi * j / v + k))) * 16) / 16)
                 for j in range(v)]
        out.append({"polygon_id": k + 1, "name": f"h{k}", "vertices": verts})
    return out


@workload("pip", out="scaling", sizes={"pages": 12_000_000}, warm={"pages": 200_000},
          checks=("rows",), title="PIP join, {pages} pages x 100 polygons x 1024 vertices")
def pip_body(spark, n, parts):
    """Flagship PIP join over arithmetic-geocoded pages: candidate volume ~ pages, all stages
    distributed, no client-side loops. 100 polygons x 1024 vertices keeps the exact winding kernel the
    dominant cost (SURVEY.md §7 known-hard #6 says V>=32; after the nullable-key fix the JVM side
    got ~3x faster, so the kernel share must be this high for the measurement to reflect compute
    scaling rather than fixed job overhead)."""
    lon, lat = synth.geocode_arith_cols(F.col("id"))
    pts = spark.range(0, n["pages"], 1, parts).withColumn("lon", lon).withColumn("lat", lat)
    t0 = time.time()
    rows = PJ.pip_join(spark, pts, heavy_layer(), key_col="id").count()
    return {"sec": time.time() - t0, "rows": rows}


@workload("ann", out="scaling_ann", sizes={"vecs": 16_000_000}, warm={"vecs": 200_000},
          checks=("rows", "target_id_sum", "rank_sum"), rate="vecs", fixed={"queries": 64, "k": 10},
          title=("exact BLAS cosine top-10, {vecs} x 64-dim vectors, 64 queries "
                 "(Arrow/mapInPandas fast path)"))
def ann_body(spark, n, parts):
    """The Arrow path (mapInPandas batches through NumPy/BLAS), whose parallel unit is the Python
    worker pool: exact brute-force cosine top-10 of 64 queries via ``cosine_topk`` (per-batch BLAS
    candidate pick, exact dim-ordered fold rescore + per-batch top-k, final window over O(k *
    batches) survivors). Output identity across levels is exact by construction: per-batch top-k
    contains the global top-k restricted to the batch, and ties break on id. The 64 components per
    id are plain codegen'd trig Columns (cos of incommensurate multiples): no HOF, no Python in the
    synthesis."""
    def frame(m):
        d = F.col("id")
        return spark.range(0, m, numPartitions=parts).select(
            d.alias("vec_id"),
            F.array(*[F.cos(d * (0.000037 * (i + 1) + 0.0011) + i * 0.61803398875)
                      for i in range(64)]).alias("embedding"))
    queries = frame(64 * 997).filter(F.col("vec_id") % 997 == 0)  # 64 spread ids
    t0 = time.time()
    row = (SIM.cosine_topk(frame(n["vecs"]), queries, 10)
           .agg(F.count(F.lit(1)).alias("n"), F.sum("target_id").alias("tsum"),
                F.sum("rank").alias("rsum")).collect()[0])
    return {"sec": time.time() - t0, "rows": int(row["n"]),
            "target_id_sum": int(row["tsum"]), "rank_sum": int(row["rsum"])}


@workload("graph", out="scaling_graph", sizes={"docs": 12_000_000}, warm={"docs": 100_000},
          checks=("n_edges", "n_hosts", "rank_mass"), fixed={"iters": 5},
          title="link extraction + host graph + 5-round integer PageRank, {docs} pages, {n_hosts} hosts")
def graph_body(spark, n, parts):
    """Linked pages -> href extraction -> host link graph (explode + one pair-keyed shuffle) -> 5
    rounds of fixed-point integer PageRank (per round a join + groupBy shuffle + eager
    localCheckpoint). PageRank is the engine's only iterative multi-shuffle operator, so serial
    per-round overhead shows up here first; the integer fixed-point contract makes the rank-mass
    checksum bit-exact regardless of parallelism.

    The pages are the host_links query's corpus shape (``__spark_entry__._linked_pages``) over
    spark.range, host universe ``docs // 5`` so the edge relation is corpus-sized: every page links
    to 2-3 other hosts via coprime multiplicative formulas, so the host-pair relation stays dense
    and mostly distinct — the extraction shuffle sees corpus-scale key mass."""
    d, hosts = F.col("doc_id"), F.lit(max(n["docs"] // 5, 97))

    def site(expr):
        return F.concat(F.lit("site"), F.pmod(expr, hosts).cast("string"), F.lit(".example.com"))

    def link(pre, expr, post):
        return F.concat(F.lit(pre), site(expr), F.lit(post))
    url = F.concat(F.lit("http://"), site(d), F.lit("/p/"), d.cast("string"))
    html = F.concat(F.lit('<html><body><a href="/rel">r</a>'),
                    link('<a href="http://', d * 31 + 7, '/x">a</a>'),
                    link('<a href="https://www.', d * 17 + 3, '/y?z=1">b</a>'),
                    F.when(F.pmod(d, F.lit(7)) == 0,
                           link('<a href="http://', d * 5 + 11, '/z">c</a>')).otherwise(F.lit("")),
                    F.lit("</body></html>"))
    pages = (spark.range(0, n["docs"], numPartitions=parts).withColumnRenamed("id", "doc_id")
             .select("doc_id", url.alias("url"), html.alias("html")))
    t0 = time.time()
    edges = G.host_link_graph(pages).localCheckpoint()
    n_edges = edges.count()
    row = (G.pagerank(edges, iters=5)
           .agg(F.count(F.lit(1)).alias("n"), F.sum("pr").alias("mass")).collect()[0])
    return {"sec": time.time() - t0, "n_edges": n_edges,
            "n_hosts": int(row["n"]), "rank_mass": int(row["mass"])}


@workload("media", out="scaling_media", sizes={"docs": 4_000_000}, warm={"docs": 50_000},
          checks=("decoded", "near_dup_pairs"), title="media decode + dHash near-dup, {docs} docs")
def media_body(spark, n, parts):
    """Binary payloads of the media_decode query's corpus (BMP / PGM / WAV / raw in rotation) ->
    codec-free decode (mapInPandas, NumPy parsers) -> dHash -> banded Hamming pair join:
    Arrow-pass-dominated with one pair-join shuffle, the shape of an image-dedup stage at corpus
    scale."""
    docs = (spark.range(0, n["docs"], numPartitions=parts)
            .select(F.col("id").alias("doc_id"), E._media_decode_payload_col().alias("payload")))
    # dHash input: the 9x8 grouped-perturbation image corpus (the media_decode corpus' PGMs sit
    # below the dHash grid) at 1/8 the volume — a CONTIGUOUS id range, so the 8-member perturbation
    # groups stay intact and the pair join finds real near-dup mass
    imgs = (spark.range(0, n["docs"] // 8, numPartitions=parts)
            .select(F.col("id").alias("doc_id"), E._image_corpus_payload_col().alias("payload")))
    t0 = time.time()
    decoded = MM.decode_media_basic(docs).filter(F.col("fmt") != "unknown").count()
    pairs = D.hamming_near_pairs(MM.image_dhash(imgs), id_col="doc_id",
                                 hash_col="dhash", bits=64, max_band_freq=64).count()
    return {"sec": time.time() - t0, "decoded": decoded, "near_dup_pairs": pairs}


@workload("temporal", out="scaling_temporal", sizes={"events": 24_000_000, "docs": 2_400_000},
          warm={"events": 200_000, "docs": 40_000}, checks=("matched", "kept_lines"),
          rate="rows", title="as-of join ({events} events) + corpus line dedup ({docs} docs)")
def temporal_body(spark, n, parts):
    """(1) As-of join of synthetic events to their per-user snapshot stream (every 7th event): the
    union-tag window carry-forward — one hash shuffle on user_id + per-key sort, then an aggregate
    that forces every matched row. (2) Corpus line dedup over docs whose ~6 lines are drawn from a
    4k-line pool (heavy cross-doc duplication, the worst case for the canonical-line join):
    keep-first-occurrence + reassembly, forced by the total kept-line mass."""
    ev = (spark.range(0, n["events"], 1, parts)
          .selectExpr("id AS event_id", "id % 50000 AS user_id",
                      "timestamp_millis((id * 2654435761) % 31536000000) AS ts"))
    pool = [f"'l' || CAST((id * {m}) % 4096 AS STRING)" for m in (7919, 104729, 1299709, 15485863)]
    lines = [*pool[:3], "'u' || CAST(id AS STRING)", pool[3],
             "CASE WHEN id % 3 = 0 THEN '' ELSE 'v' || CAST(id AS STRING) END"]
    docs = spark.range(0, n["docs"], 1, parts).selectExpr(
        "id AS doc_id", f"concat_ws(chr(10), {', '.join(lines)}) AS text")
    t0 = time.time()
    snaps = (ev.filter(F.col("event_id") % 7 == 0).groupBy("user_id", "ts")
             .agg(F.min("event_id").alias("snap_id")))
    a = (TP.asof_join(ev, snaps, on=["user_id"], value_cols=["snap_id"])
         .agg(F.count("snap_id").alias("matched"),
              F.sum(F.unix_millis(F.col("ts").cast("timestamp"))
                    - F.unix_millis(F.col("asof_ts").cast("timestamp"))).alias("age_mass"))
         .collect()[0])
    t1 = time.time()
    kept = D.line_dedup_corpus(docs).agg(F.sum("n_lines_kept")).collect()[0][0]
    t2 = time.time()
    return {"sec": t2 - t0, "sec_asof": t1 - t0, "sec_line_dedup": t2 - t1,
            "matched": int(a["matched"]), "kept_lines": int(kept)}


@workload("text", out="scaling_text", sizes={"pages": 3_000_000}, warm={"pages": 100_000},
          checks=("survivors",),
          title="text cleaning (PII redact + repetition + exact dedup), {pages} pages")
def text_body(spark, n, parts):
    """Pages -> PII redaction (3 regex counts + 3 replaces) -> Gopher repetition signals on the
    redacted text -> exact-dedup survivor count: map-dominated with one digest groupBy, the shape
    of the web_pipeline query at corpus scale."""
    pages = (synth.generate_pages(spark, n["pages"], partitions=parts)
             .select(F.xxhash64("url").alias("doc_id"), "text"))
    t0 = time.time()
    red = P.redact_pii(pages)
    rep = TX.repetition_signals(red.select("doc_id", F.col("clean_text").alias("text")))
    survivors = (red.join(rep.select("doc_id", "repetitive"), "doc_id")
                 .filter(~F.col("repetitive"))
                 .groupBy(F.md5("clean_text")).agg(F.min("doc_id")).count())
    return {"sec": time.time() - t0, "survivors": survivors}


@workload("knn", sizes={}, warm={}, checks=("rows",))
def knn_body(spark, n, parts):
    """The ``knn`` query's operator over ``$SPARK_GRAFT_SF_DIR`` documents (every 17th doc
    queries its 5 nearest docs): the A/B workload for knn storage and round-protocol changes. No
    size to scale, so no scaling run; its warm-up is a full run."""
    if "SPARK_GRAFT_SF_DIR" not in os.environ:
        raise SystemExit("knn reads its documents from $SPARK_GRAFT_SF_DIR")
    pts = E._docs_points(spark, os.environ["SPARK_GRAFT_SF_DIR"])
    queries = pts.filter(F.col("doc_id") % E.KNN_FILTER_MOD == 0)
    t0 = time.time()
    rows = KNN.knn_join(queries, pts, E.KNN_K, query_id="doc_id", target_id="doc_id").count()
    return {"sec": time.time() - t0, "rows": rows}


# --- stress entries ----------------------------------------------------------
# The oracle correctness check runs at sf0.01 and bench.py at sf0.1; these run the operator
# families at 100-1000x those volumes on deterministic synthetic inputs, with closed-form
# invariants, so the scale claims in BENCH/BASELINE.md are measured, not argued. Entry keys keep
# the names of the full-size runs whatever --scale is.

def _timed(fn):
    t0 = time.time()
    out = fn()
    return out, time.time() - t0


def _rated(fields: dict, dt: float, n: int, rate: str) -> dict:
    """An entry's record: its fields, its seconds and ``rate`` = n / s."""
    return {**fields, "sec": round(dt, 2), rate: round(n / dt)}


@stress_entry("stress", "tile_rollup_12m")
def tile_rollup_12m(spark, s, cpus):
    n = _sized(12_000_000, s)
    pts = synth.geocoded_pages(spark, n).select("url", "lon", "lat")
    rows, dt = _timed(lambda: PJ.tile_rollup(pts, res_fine=12, res_coarse=4).count())
    return _rated({"points": n, "levels": 9, "out_cells": rows}, dt, n, "pts_per_sec")


@stress_entry("stress", "range_join_2m")
def range_join_2m(spark, s, cpus):
    n = _sized(2_000_000, s)
    tgt = synth.geocoded_pages(spark, n).select(F.xxhash64("url").alias("pid"), "lon", "lat")
    q = tgt.filter(F.pmod(F.col("pid"), F.lit(100)) == 0)  # ~1 % as queries
    pairs, dt = _timed(lambda: RJ.range_join(q, tgt, 2.0, query_id="pid",
                                             target_id="pid").count())
    return _rated({"targets": n, "radius_deg": 2.0, "pairs": pairs}, dt, n, "targets_per_sec")


@stress_entry("stress", "dedup_exact_2m")
def dedup_exact_2m(spark, s, cpus):
    n = _sized(2_000_000, s)
    pages = synth.generate_pages(spark, n)
    dups = (pages.filter(F.pmod(F.xxhash64("url"), F.lit(10)) == 0)  # 10 % dups
            .withColumn("url", F.concat(F.col("url"), F.lit("?d"))))
    corpus = pages.unionByName(dups).select("url", "text")
    groups, dt = _timed(lambda: D.exact_duplicates(corpus, id_col="url").count())
    return _rated({"docs": int(n * 1.1), "dup_groups": groups}, dt, n * 1.1, "docs_per_sec")


def _with_injected_copies(spark, n):
    """Pages + a verbatim copy (doc_id + 1) of every 20th: random synthetic texts share no
    shingles, so without injection the candidate count is trivially 0; the copies make recall
    visible."""
    base = synth.generate_pages(spark, n).select(F.xxhash64("url").alias("doc_id"), "text")
    dup = (base.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 0)
           .select((F.col("doc_id") + 1).alias("doc_id"), "text"))
    return base.unionByName(dup), dup.count()


@stress_entry("stress", "minhash_lsh_200k")
def minhash_lsh_200k(spark, s, cpus):
    n = _sized(200_000, s)
    docs, n_inj = _with_injected_copies(spark, n)
    cand, dt = _timed(lambda: D.lsh_candidate_pairs(docs, max_band_freq=64).count())
    return _rated({"docs": n + n_inj, "injected_dups": n_inj, "candidates": cand,
                   "max_band_freq": 64}, dt, n + n_inj, "docs_per_sec")


@stress_entry("stress", "pip_join_df_100k_polys")
def pip_join_df_100k_polys(spark, s, cpus):
    """The 10^5+-polygon path: small deterministic triangles spread over the world; the polygon
    side is a DATAFRAME — cover expansion, vertex transport, per-batch CSR packing all distributed,
    shuffle equi-join on cell_id."""
    n_poly, n_pt = _sized(100_000, s), _sized(1_000_000, s)
    cx = (F.pmod(F.col("id") * 37 + 11, F.lit(3500)) / 10.0 - 175.0)
    cy = (F.pmod(F.col("id") * 53 + 7, F.lit(1700)) / 10.0 - 85.0)
    polys = spark.range(n_poly).select(
        F.col("id").alias("polygon_id"),
        F.array(cx.cast("float"), (cx + 0.8).cast("float"), (cx + 0.4).cast("float")).alias("xs"),
        F.array(cy.cast("float"), cy.cast("float"), (cy + 0.7).cast("float")).alias("ys"))
    pts = synth.geocoded_pages(spark, n_pt).select("url", "lon", "lat")
    hits, dt = _timed(lambda: PJ.pip_join_df(pts, polys, cover_res=8).count())
    return _rated({"polygons": n_poly, "points": n_pt, "hits": hits}, dt, n_pt, "pts_per_sec")


@stress_entry("stress", "connected_components_1m")
def connected_components_1m(spark, s, cpus):
    n = _sized(1_000_000, s)
    verts = spark.range(n).select(F.col("id"))
    edges = spark.range(n).select(  # ~n random edges
        F.pmod(F.xxhash64(F.col("id") * 2654435761), F.lit(n)).alias("a"),
        F.pmod(F.xxhash64(F.col("id") * 1442695041 + 7), F.lit(n)).alias("b")
    ).filter(F.col("a") != F.col("b"))
    comps, dt = _timed(lambda: D.connected_components(verts, edges)
                       .select("cluster_id").distinct().count())
    return _rated({"vertices": n, "components": comps}, dt, n, "edges_per_sec")


@stress_entry("stress", "near_dup_300k")
def near_dup_300k(spark, s, cpus):
    """The QUERY operator at 100x its sf0.1 volume, in its scale configuration (n_planes ~
    log2(N/16) — the oracle-checked 8-plane setting is the oracle configuration, quadratic here);
    recall on the injected perturbation copies is the quality evidence the SQL oracle cannot give
    at this plane count."""
    n, dim, off = _sized(300_000, s), 32, 10_000_000
    n_planes = SIM.scaled_n_planes(n)
    corpus = synth.inject_perturbed_copies(synth.generate_embeddings(spark, n, dim),
                                           dim, 20, off)
    n_inj = corpus.count() - n
    found, dt = _timed(lambda: SIM.near_dup_pairs(corpus, (3, 5), dim=dim,
                                                  n_planes=n_planes)
                       .filter(F.col("b") == F.col("a") + off).count())
    return _rated({"vectors": n + n_inj, "dim": dim, "n_planes": n_planes, "injected": n_inj,
                   "injected_found": found, "recall": round(found / n_inj, 4)},
                  dt, n + n_inj, "vecs_per_sec")


@stress_entry("stress", "simhash_pairs_wide_250k")
def simhash_pairs_wide_250k(spark, s, cpus):
    """The width-scaling claim measured: at 16 bits the band key space is 2^5-2^6 and this corpus
    would be quadratic (every band value hot); at 60 bits each Hamming-2 band has 2^20 values, so
    only true near-dups collide. Verbatim injected copies (identical signature, Hamming 0) must ALL
    be found — banding recall is 1 by construction."""
    n = _sized(250_000, s)
    docs, n_inj = _with_injected_copies(spark, n)
    found, dt = _timed(lambda: D.simhash_near_pairs(docs, 2, bits=60)
                       .filter(F.col("b") == F.col("a") + 1).count())
    assert found == n_inj, (found, n_inj)
    return _rated({"docs": n + n_inj, "bits": 60, "max_hamming": 2, "injected": n_inj,
                   "injected_found": found, "recall": round(found / n_inj, 4)},
                  dt, n + n_inj, "docs_per_sec")


@stress_entry("stress", "boilerplate_strip_2m")
def boilerplate_strip_2m(spark, s, cpus):
    """Every third page carries the shared boilerplate line; the strip must drop exactly those
    lines and nothing else (organic lines are unique per page at this corpus size)."""
    n, bp = _sized(2_000_000, s), "all rights reserved terms of service apply"
    pages = synth.generate_pages(spark, n).select(
        F.xxhash64("url").alias("doc_id"),
        F.when(F.pmod(F.xxhash64("url"), F.lit(3)) == 0,
               F.concat(F.lit(bp + "\n"), F.col("text"))).otherwise(F.col("text")).alias("text"))
    dropped, dt = _timed(lambda: TX.strip_boilerplate(pages, 5).agg(
        F.sum(F.col("n_lines") - F.col("n_lines_kept"))).collect()[0][0])
    return _rated({"docs": n, "lines_dropped": int(dropped)}, dt, n, "docs_per_sec")


@stress_entry("stress_r7", "tile_smooth_24m")
def tile_smooth_24m(spark, s, cpus):
    """Arithmetic-geocoded points at res 10 (1 M-cell grid); the smoothed relation's own-count
    column sums back to exactly the input row count (no point lost or double-counted by the 9-way
    scatter)."""
    n = _sized(24_000_000, s)
    lon, lat = synth.geocode_arith_cols(F.col("id"))
    pts = spark.range(0, n, 1, cpus * 4).select(lon.alias("lon"), lat.alias("lat"))
    agg, dt = _timed(lambda: PJ.tile_smooth(pts, 10).agg(
        F.count(F.lit(1)).alias("cells"), F.sum("n_docs").alias("mass"),
        F.max("n_docs_3x3").alias("peak")).collect()[0])
    assert int(agg["mass"]) == n, (agg["mass"], n)
    return _rated({"points": n, "res": 10, "occupied_cells": int(agg["cells"]),
                   "peak_3x3": int(agg["peak"]), "own_mass_exact": True}, dt, n, "pts_per_sec")


@stress_entry("stress_r7", "frontier_10m")
def frontier_10m(spark, s, cpus):
    """Candidate URLs over hosts (paths = 15x hosts, so a path fixes its host), every 3rd row a
    canonical variant (query-string / www. noise): per-host slots are dense 0..n-1 (max slot ==
    count-1 for every host) and variants collapse exactly."""
    n, hosts = _sized(10_000_000, s), _sized(200_000, s)
    base = F.concat(F.lit("http://h"), (F.col("id") % F.lit(hosts)).cast("string"),
                    F.lit(".example.com/p/"), (F.col("id") % F.lit(15 * hosts)).cast("string"))
    url = (F.when(F.col("id") % 3 == 1, F.concat(base, F.lit("?utm=x")))
           .when(F.col("id") % 3 == 2, F.regexp_replace(base, "http://", "http://www."))
           .otherwise(base))
    pages = spark.range(0, n, 1, cpus * 4).select(
        F.col("id").alias("doc_id"), url.alias("url"),
        (F.col("id") % F.lit(1000)).alias("priority"))

    def run():
        fr = W.frontier_schedule(pages)
        per_host = fr.groupBy("host").agg(F.count(F.lit(1)).alias("n"), F.max("slot").alias("mx"))
        return per_host.filter(F.col("mx") != F.col("n") - 1).count(), fr.count()
    (bad, tot), dt = _timed(run)
    assert bad == 0
    return _rated({"urls": n, "hosts": hosts, "scheduled": int(tot), "slots_dense": True},
                  dt, n, "urls_per_sec")


@stress_entry("stress_r7", "dwell_segments_24m")
def dwell_segments_24m(spark, s, cpus):
    """Events with per-day cell teleports; segment n_events sums back to the input count."""
    n, users = _sized(24_000_000, s), _sized(50_000, s)
    ev = spark.range(0, n, 1, cpus * 4).selectExpr(
        "id AS event_id", f"id % {users} AS user_id",
        "timestamp_millis((id * 2654435761) % 31536000000) AS ts")
    day = F.floor(F.unix_millis(F.col("ts").cast("timestamp")) / F.lit(86_400_000))
    lon, lat = synth.geocode_arith_cols(F.col("user_id") * F.lit(7919) + day)
    ix, iy = C.ixiy_cols(lon, lat, 2)
    traj = ev.select("event_id", "user_id", "ts", ix.alias("ix"), iy.alias("iy"))
    agg, dt = _timed(lambda: TP.dwell_segments(traj).agg(
        F.count(F.lit(1)).alias("segs"), F.sum("n_events").alias("ev_mass"),
        F.max("dwell_ms").alias("max_dwell")).collect()[0])
    assert int(agg["ev_mass"]) == n
    return _rated({"events": n, "users": users, "segments": int(agg["segs"]),
                   "event_mass_exact": True, "max_dwell_ms": int(agg["max_dwell"])},
                  dt, n, "events_per_sec")


@stress_entry("stress_r7", "quality_classify_6m")
def quality_classify_6m(spark, s, cpus):
    """Map-side only (the plan has no doc-keyed exchange), so throughput ~ scan speed."""
    n = _sized(6_000_000, s)
    docs = spark.range(0, n, 1, cpus * 4).selectExpr(
        "id AS doc_id",
        "concat('the quick w', CAST(id % 997 AS STRING), "
        "' and of to in a is ', repeat('tok ', CAST(id % 50 AS INT))) AS text",
        "CASE id % 5 WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'fr' "
        "WHEN 3 THEN 'zh' ELSE 'xx' END AS lang")
    agg, dt = _timed(lambda: TX.quality_classify(docs).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("keep").cast("long")).alias("kept")).collect()[0])
    assert int(agg["n"]) == n
    return _rated({"docs": n, "kept": int(agg["kept"])}, dt, n, "docs_per_sec")


@stress_entry("stress_r7b", "hotspot_regions")
def hotspot_regions(spark, s, cpus):
    """Points at res 10 (1 M-cell grid): the first 5/6 are blob mass, the rest a provably sub-gate
    noise floor. With gate 40 every blob cell is hot and no noise-only cell can be, so regions ==
    blobs, region cells == blobs * 128, and region mass is >= the planted points (noise may land
    inside hot cells) and <= all points."""
    res, gate = 10, 40
    n_blobs = min(2000, _sized(2000, s))  # the 46 x 44 anchor grid holds 2000
    n_blob_pts = n_blobs * 10_000
    n_pts = n_blob_pts * 6 // 5
    d = F.col("id")
    # blob branch (id < n_blob_pts): blob b = id % n_blobs, within-blob offset o = id div n_blobs
    # in [0, 10000) -> dx = o % 16, dy = (o div 16) % 8; every (b, dx, dy) cell receives
    # floor/ceil(10000/128) = 78-79 points. Anchors sit on a 46 x 44 grid with 22x16 pitch: 16x8
    # blocks with >= 6-cell gaps, so no two blobs are 8-adjacent.
    b = F.pmod(d, F.lit(n_blobs))
    o = F.expr(f"id div {n_blobs}")
    ax = F.pmod(b, F.lit(46)) * 22 + F.pmod(o, F.lit(16))
    ay = (F.expr(f"(id % {n_blobs}) div 46") * 16
          + F.pmod(F.expr(f"(id div {n_blobs}) div 16"), F.lit(8)))
    # noise branch: j = id - n_blob_pts < 4M; an odd multiplicative constant is a bijection mod
    # 2^20, so a cell's noise count is |{j : j % 2^20 == r}| <= ceil(4M / 2^20) = 4 < gate.
    h = F.pmod((d - F.lit(n_blob_pts)) * 2654435761, F.lit(1 << 20))
    ixp = F.when(d < n_blob_pts, ax).otherwise(F.pmod(h, F.lit(1024))).cast("double")
    iyp = F.when(d < n_blob_pts, ay).otherwise((h / 1024).cast("long")).cast("double")
    cells = 1 << res
    pts = spark.range(0, n_pts, 1, cpus * 4).select(
        (F.lit(-180.0) + (ixp + F.lit(0.5)) * F.lit(360.0 / cells)).alias("lon"),
        (F.lit(-90.0) + (iyp + F.lit(0.5)) * F.lit(180.0 / cells)).alias("lat"))
    agg, dt = _timed(lambda: PJ.hotspot_regions(pts, res, gate).agg(
        F.count(F.lit(1)).alias("regions"), F.sum("n_docs").alias("mass"),
        F.sum("n_cells").alias("cells")).collect()[0])
    assert agg["regions"] == n_blobs, agg
    assert agg["cells"] == n_blobs * 128, agg
    assert n_blob_pts <= agg["mass"] <= n_pts, agg
    return _rated({"points": n_pts, "res": res, "min_count": gate,
                   "regions": int(agg["regions"]), "region_cells": int(agg["cells"]),
                   "region_mass": int(agg["mass"])}, dt, n_pts, "pts_per_sec")


@stress_entry("stress_r7b", "od_flows")
def od_flows(spark, s, cpus):
    """Events with per-day cell teleports (the dwell trajectory shape at res 6), cross-checked
    against dwell_segments on the identical trajectory: moves == segments - users (every segment
    after a user's first opens with exactly one move)."""
    n, users = _sized(24_000_000, s), _sized(50_000, s)
    e = F.col("id")
    user = F.pmod(e, F.lit(users))
    day = F.expr(f"id div {users * 8}")  # ~8 events per user-day
    lon, lat = synth.geocode_arith_cols(user * 7919 + day)
    ix, iy = C.ixiy_cols(lon, lat, 6)
    ev = spark.range(0, n, 1, cpus * 4).select(
        e.alias("event_id"), user.alias("user_id"),
        F.timestamp_millis((e * 1000).cast("long")).alias("ts"), ix.alias("ix"), iy.alias("iy"))
    fa, dt = _timed(lambda: TP.od_flows(ev).agg(
        F.count(F.lit(1)).alias("pairs"), F.sum("n_moves").alias("moves")).collect()[0])
    segs = TP.dwell_segments(ev).count()
    assert fa["moves"] == segs - users, (fa["moves"], segs)
    return _rated({"events": n, "users": users, "od_pairs": int(fa["pairs"]),
                   "moves": int(fa["moves"])}, dt, n, "events_per_sec")


@stress_entry("skew", "skew")
def skew(spark, s, cpus):
    """Salted vs unsalted partitioned join on hot-cell data. The generator maps 20 % of pages into
    3 hot cells (null-island style geocode artifacts); in the partitioned (shuffle) join those keys
    land on 3 reducers, and salting replicates the build rows for hot cells n_salt ways and
    scatters probe rows by xxhash64(url) % n_salt. Measures the straggler effect and checks
    row-multiset equality."""
    n = _sized(4_000_000, s)
    layer = POLY.default_query_layer()
    pages = synth.geocoded_pages(spark, n, partitions=32).cache()
    pages.count()
    hot = PJ.detect_hot_cells(pages, PJ.choose_cover_res(layer))

    def run(cells):
        return _timed(lambda: PJ.pip_join(spark, pages, layer, mode="partitioned",
                                          hot_cells=cells).count())
    run(None)  # warm
    best = {}
    for name, cells in (("unsalted", None), ("salted", hot)):
        times = [run(cells) for _ in range(2)]
        best[name] = {"sec": round(min(t for _, t in times), 3), "rows": times[0][0]}
    pages.unpersist()
    assert best["salted"]["rows"] == best["unsalted"]["rows"]
    return {"pages": n, "hot_cells_detected": len(hot), **best,
            "speedup": round(best["unsalted"]["sec"] / best["salted"]["sec"], 2)}


# --- protocols ---------------------------------------------------------------

def _session(app: str, cpus: int, shuffle_partitions: int, **conf):
    spark = S.get_spark(app, master=f"local[{cpus}]", shuffle_partitions=shuffle_partitions, **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _child(args: list[str], tree: str = REPO, **env) -> dict:
    """Run this script as a separate process (its own JVM) with ``tree`` as the program source;
    return the JSON of its last stdout line."""
    env = dict(os.environ, PYTHONPATH=tree, **env)
    proc = subprocess.run([sys.executable, os.path.abspath(__file__), *args],
                          capture_output=True, text=True, cwd=tree, env=env)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"measure.py {' '.join(args)} failed: rc {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def run_level(name: str, cpus: int, scale: float) -> dict:
    """One scaling level in this process: warm-up, then best-of-REPEATS at full and half input."""
    w = WORKLOADS[name]
    sizes = w.scaled(scale)
    half_sizes = {k: v // 2 for k, v in sizes.items()}
    spark = _session(f"scaling_{w.name}_{cpus}", cpus, PARTITIONS)
    w.body(spark, w.warm_sizes(sizes), PARTITIONS)  # JIT, codegen, workers, broadcast
    full, sec_half = None, None
    for _ in range(REPEATS):
        r = w.body(spark, sizes, PARTITIONS)
        full = r if full is None or r["sec"] < full["sec"] else full
        h = w.body(spark, half_sizes, PARTITIONS)["sec"]
        sec_half = h if sec_half is None else min(sec_half, h)
    spark.stop()
    units, units_half = sum(sizes.values()), sum(half_sizes.values())
    secs = {k: round(v, 3) for k, v in full.items() if k.startswith("sec")}
    return {"cpus": cpus, **sizes, **w.fixed, **secs, "sec_half": round(sec_half, 3),
            **{k: full[k] for k in w.checks},
            f"{w.rate}_per_sec": round(units / full["sec"]),
            f"marginal_{w.rate}_per_sec": marginal(units, units_half, full["sec"], sec_half)}


def _burn(q):
    import numpy as np
    a = np.arange(2_000_000, dtype=np.float32) / 1e6
    b, iters, t0 = np.empty_like(a), 0, time.time()
    while time.time() - t0 < 5.0:
        np.multiply(a, 1.0001, out=b)
        np.add(b, 0.1, out=b)
        np.subtract(b, a, out=b)
        iters += 1
    q.put(iters)


def calibrate(lo: int, hi: int) -> dict:
    """Machine ceiling without Spark: parallel NumPy streaming processes. (On the 32-way round-8
    host this read ~0.87 for 2 -> 8 but only ~0.48 for 8 -> 32: SMT / host throttling leaves no 4x
    of machine to show.)"""
    import multiprocessing as mp
    iters = {}
    for n in (lo, hi):
        q = mp.Queue()
        ps = [mp.Process(target=_burn, args=(q,)) for _ in range(n)]
        [p.start() for p in ps]
        iters[n] = sum(q.get() for _ in range(n))  # drain before join
        [p.join() for p in ps]
    return {"iters": iters, f"machine_eff_{lo}_to_{hi}": efficiency(iters[lo], iters[hi], lo, hi)}


def scaling_summary(w: Workload, results: dict, lo: int, hi: int, cal: dict) -> dict:
    check_identical(results, w.checks)
    key = f"{w.rate}_per_sec"
    raw = efficiency(results[lo][key], results[hi][key], lo, hi)
    marg = efficiency(results[lo][f"marginal_{key}"], results[hi][f"marginal_{key}"], lo, hi)
    return {"workload": w.title.format(**results[lo]), "levels": results,
            "primary_pair": [lo, hi], "scaling_efficiency": raw,
            "scaling_efficiency_marginal": marg, "machine_calibration": cal,
            "target": TARGET, "pass": passes(raw, marg)}


def _write(name: str, out: dict) -> None:
    print(json.dumps(out), flush=True)
    os.makedirs(BENCH, exist_ok=True)
    with open(os.path.join(BENCH, f"{name}.json"), "w") as f:
        json.dump(out, f, indent=2)


def scaling(name: str, scale: float) -> None:
    w = WORKLOADS[name]
    if not w.out:
        raise SystemExit(f"{name} has no input size to scale; use it with ab")
    lo, hi = max(1, S.default_cpus() // 4), S.default_cpus()  # (N, 4N)
    # one BLAS thread per Python worker: the measurement varies the WORKER count, and an
    # internally-threaded matmul would let the lower level borrow idle cores and corrupt the
    # comparison
    blas1 = {v: "1" for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")}
    results = {}
    for cpus in (lo, hi):
        results[cpus] = _child(["scaling", name, "--level", str(cpus),
                                "--scale", str(scale)], **blas1)
        print(json.dumps(results[cpus]), flush=True)
    _write(w.out, scaling_summary(w, results, lo, hi, calibrate(lo, hi)))


def stress(group: str, scale: float) -> None:
    cpus = S.default_cpus()
    conf = {}
    if group == "skew":
        # AQE fully off + broadcast off: simulates a build side too large to broadcast (the only
        # regime where a partitioned join + manual salting is the right tool; with defaults AQE
        # would demote this small build side to a broadcast join and there would be no shuffle to
        # salt)
        conf = {"spark.sql.adaptive.enabled": "false",
                "spark.sql.autoBroadcastJoinThreshold": "-1"}
    spark = _session(group, cpus, 64 if conf else cpus, **conf)
    out: dict = {"cpus": cpus}
    for key, fn in STRESS[group].items():
        res = fn(spark, scale, cpus)
        print(json.dumps({key: res}), file=sys.stderr, flush=True)
        # skew's one entry is the whole record (the skew.json layout)
        out = res if group == "skew" else {**out, key: res}
    spark.stop()
    _write(group, out)


def sample(name: str, cpus: int, scale: float) -> dict:
    """One A/B sample in this process, over whichever tree is first on ``sys.path``: warm-up, one
    timed run, then the one-core kernel canary (how fast the host is right now)."""
    from bench import bench_kernel_pip
    w = WORKLOADS[name]
    sizes = w.scaled(scale)
    spark = _session(f"ab_{name}", cpus, cpus)
    w.body(spark, w.warm_sizes(sizes), PARTITIONS)
    res = w.body(spark, sizes, PARTITIONS)
    spark.stop()
    return {"sec": round(res["sec"], 3), **{k: res[k] for k in w.checks},
            "canary_pts_per_sec": round(bench_kernel_pip())}


def ab(name: str, against: str, scale: float) -> None:
    w = WORKLOADS[name]
    cpus = S.default_cpus()
    trees = {"work": REPO, "against": os.path.abspath(against)}
    samples: dict[str, list] = {"work": [], "against": []}
    for i in range(AB_PAIRS):
        for side in (("work", "against") if i % 2 == 0 else ("against", "work")):
            r = _child(["ab", name, "--tree", trees[side], "--level", str(cpus),
                        "--scale", str(scale)], tree=trees[side])
            samples[side].append(r)
            print(json.dumps({"pair": i, "side": side, **r}), flush=True)
    check_identical(dict(enumerate(samples["work"] + samples["against"])), w.checks)
    print(json.dumps({
        "workload": name, "against_tree": trees["against"], "cpus": cpus, "pairs": AB_PAIRS,
        **ab_summary([r["sec"] for r in samples["work"]],
                     [r["sec"] for r in samples["against"]]),
        "canary_pts_per_sec": {s: statistics.median(r["canary_pts_per_sec"] for r in v)
                               for s, v in samples.items()},
        "samples": samples}))


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("protocol", choices=("scaling", "stress", "ab"))
    ap.add_argument("name", help="workload (scaling, ab) or group (stress)")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply every input size (0.01 = smoke run)")
    ap.add_argument("--against", help="ab: the other source tree")
    # internal: one scaling level / one A/B sample in this process
    ap.add_argument("--level", type=int, help=argparse.SUPPRESS)
    ap.add_argument("--tree", help=argparse.SUPPRESS)
    a = ap.parse_args(argv)
    tree = os.path.abspath(a.tree or REPO)
    sys.path.insert(0, tree)
    # Python workers inherit the JVM's environment: let them import the same tree as this process
    os.environ["PYTHONPATH"] = tree
    known = STRESS if a.protocol == "stress" else WORKLOADS
    if a.name not in known:
        ap.error(f"unknown {a.protocol} name {a.name!r}; one of {sorted(known)}")
    if a.level:
        print(json.dumps((run_level if a.protocol == "scaling" else sample)(
            a.name, a.level, a.scale)))
    elif a.protocol == "ab":
        ab(a.name, a.against or ap.error("ab needs --against DIR"), a.scale)
    else:
        (scaling if a.protocol == "scaling" else stress)(a.name, a.scale)


if __name__ == "__main__":
    main()
