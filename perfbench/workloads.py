"""The three benchmark workloads.

Each workload writes its inputs from the seed before Spark starts, builds
its reference outputs once in setup by a path that bypasses the code under
test, and then exposes one operation (``op``) that the closed-loop client
in ``run.py`` times and checks (``check``).  ``plant`` corrupts an output
on purpose, so the benchmark's own test can show that a wrong result is
counted as a failure.

Every call into the program goes through ``ctx.stage(name)``: with tracing
on it is a span plus a Spark job group, so per-layer metrics can be
attributed to it; with tracing off it does nothing.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import contextmanager

import numpy as np

from spans import median

SIZES = {
    # pages per pip_pages operation
    "pip_pages": 400_000,
    # points, knn targets (queries are every 17th target), hotspot res and
    # density gate
    "geo_rounds": 40_000, "geo_targets": 8_000, "geo_res": 8, "geo_min_count": 20,
    # pages and buckets per tile_job crash-and-resume cycle
    "tile_pages": 20_000, "tile_buckets": 2,
}


def kernel_hits(layer, lon, lat) -> dict[int, np.ndarray]:
    """Indices of the points each polygon contains, from the golden-tested
    single-polygon ``geo.kernel.contains`` over every point, with a widened
    bounding-box prefilter that can only drop points the polygon cannot
    contain.  No cell index and no join."""
    from polycheck_spark.geo.kernel import contains
    out = {}
    for p in layer:
        v = np.asarray(p["vertices"], dtype=np.float64)
        lo, hi = v.min(axis=0) - 1e-3, v.max(axis=0) + 1e-3
        idx = np.flatnonzero((lon >= lo[0]) & (lon <= hi[0])
                             & (lat >= lo[1]) & (lat <= hi[1]))
        inside = contains(p["vertices"], np.column_stack([lon[idx], lat[idx]])) > 0
        out[p["polygon_id"]] = idx[inside]
    return out


def kernel_canary(n: int = 400_000, repeats: int = 5) -> float:
    """Driver-side ``contains_csr`` points per second on one core over a
    fixed candidate batch (the default query layer against seeded points):
    the host-speed reading recorded with every run."""
    from polycheck_spark.data.polygons import default_query_layer, layer_to_csr
    from polycheck_spark.geo.kernel import contains_csr
    verts, offsets, _ = layer_to_csr(default_query_layer())
    rng = np.random.default_rng(12345)
    pts = rng.uniform(-20, 20, (n, 2))
    poly = rng.integers(0, len(offsets) - 1, n)
    contains_csr(verts, offsets, poly[:1000], pts[:1000])
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        contains_csr(verts, offsets, poly, pts)
        times.append(time.perf_counter() - t)
    return n / median(times)


class PipPages:
    """Broadcast-mode pip_join over a parquet page table, per-polygon counts."""

    name = "pip_pages"
    warm_ops, min_ops = 5, 5
    pip_stages = ("pip_join",)

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.items = SIZES["pip_pages"]
        self.path = os.path.join(work, "pages.parquet")

    def make_inputs(self):
        from inputs import write_pages
        write_pages(self.path, self.items, self.seed)

    def _pages(self, spark):
        from pyspark.sql import functions as F
        from polycheck_spark.data import synth
        lon, lat = synth.geocode_url_cols(F.col("url"))
        return spark.read.parquet(self.path).withColumn("lon", lon).withColumn("lat", lat)

    def setup(self, ctx):
        from polycheck_spark.data.polygons import default_query_layer
        self.ctx = ctx
        # a fixed layer (golden + synthetic_layer(seed=7)): the seed changes
        # the pages, not the cover resolution or the candidate fan-out
        self.layer = default_query_layer()
        self.pages = self._pages(ctx.spark)

    def reference(self):
        pts = self.pages.select("lon", "lat").toArrow()
        hits = kernel_hits(self.layer, pts["lon"].to_numpy(), pts["lat"].to_numpy())
        self.ref = {pid: len(ix) for pid, ix in hits.items() if len(ix)}

    def op(self):
        from polycheck_spark.operators import pip_join as PJ
        with self.ctx.stage("pip_join"):
            rows = (PJ.pip_join(self.ctx.spark, self.pages, self.layer)
                    .groupBy("polygon_id").count().collect())
        return {int(r[0]): int(r[1]) for r in rows}

    def check(self, out):
        if out != self.ref:
            bad = sorted(k for k in set(out) | set(self.ref) if out.get(k) != self.ref.get(k))
            return [f"per-polygon counts differ from the kernel reference for polygons {bad}"]
        return []

    def plant(self, out):
        out = dict(out)
        out.pop(max(out, key=out.get))
        return out

    def observe(self, out):
        return {"pages": self.items, "hits": sum(out.values())}

    def probes(self, ctx):
        """Noop-sink timings of the join and its input prefixes."""
        return prefix_layers(ctx, self.pages.select("url", "lon", "lat"), self.layer)


def prefix_layers(ctx, geo, layer):
    """Self time of the scan+geocode prefix, of the +with_cell_id step and
    of the broadcast pip_join on top of both, each from the median of
    three noop-sink writes."""
    from pyspark.sql import functions as F
    from polycheck_spark.geo import cells as C
    from polycheck_spark.operators import pip_join as PJ
    steps = {"probe.geocode": geo,
             "probe.tile": C.with_cell_id(geo, F.col("lon"), F.col("lat"),
                                          PJ.choose_cover_res(layer)),
             "probe.join": PJ.pip_join(ctx.spark, geo, layer)}
    times = {name: [] for name in steps}
    for _ in range(3):
        for name, df in steps.items():
            with ctx.stage(name):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                times[name].append(time.perf_counter() - t)
    g, c, j = (median(times[name]) for name in steps)
    return {"synth.geocode_s": g, "cells.tile_s": c - g, "pip_join.self_s": j - c}


class GeoRounds:
    """knn, then hotspot regions, then hot-cell detection plus a salted
    partitioned pip_join, over one point table."""

    name = "geo_rounds"
    warm_ops, min_ops = 2, 3
    pip_stages = ("pip_join.partitioned",)

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.items = SIZES["geo_rounds"]
        self.path = os.path.join(work, "points.parquet")

    def make_inputs(self):
        from inputs import write_points
        write_points(self.path, self.items, self.seed, SIZES["geo_res"])

    def setup(self, ctx):
        from pyspark.sql import functions as F
        from polycheck_spark.data.polygons import default_query_layer
        self.ctx = ctx
        spark = ctx.spark
        # a fixed layer: the seed moves the points, not the join's plan
        self.layer = default_query_layer()
        self.points = spark.read.parquet(self.path)
        nt = SIZES["geo_targets"]
        targets = self.points.filter(F.col("id") < nt)
        self.targets = targets.withColumnRenamed("id", "target_id")
        self.queries = (targets.filter(F.col("id") % 17 == 0)
                        .withColumnRenamed("id", "query_id"))

    def reference(self):
        import duckdb
        import pyarrow.parquet as pq
        from polycheck_spark.operators import pip_join as PJ
        tbl = pq.read_table(self.path)
        ids = tbl["id"].to_numpy()
        lon, lat = tbl["lon"].to_numpy(), tbl["lat"].to_numpy()
        # knn: NumPy brute force, same metric, (dist2, id) tie-break
        t = ids < SIZES["geo_targets"]
        tid, tlon, tlat = ids[t], lon[t], lat[t]
        knn = set()
        for q in np.flatnonzero(t & (ids % 17 == 0)):
            d2 = (lon[q] - tlon) ** 2 + (lat[q] - tlat) ** 2
            order = np.lexsort((tid, d2))[:5]
            knn.update((int(ids[q]), int(tid[j]), r + 1) for r, j in enumerate(order))
        self.ref_knn = knn
        # hotspot: the DuckDB twin of the operator
        sql = PJ.hotspot_regions_sql(
            f"SELECT lon, lat FROM read_parquet('{self.path}')",
            SIZES["geo_res"], SIZES["geo_min_count"])
        con = duckdb.connect()
        try:
            self.ref_hot = {tuple(int(x) for x in r) for r in con.execute(sql).fetchall()}
        finally:
            con.close()
        # pip pairs: the kernel over every point, checked once against the
        # broadcast join, whose multiset the partitioned join must equal
        hits = kernel_hits(self.layer, lon, lat)
        self.ref_pairs = _sorted_pairs(
            np.concatenate([ids[v] for v in hits.values()]),
            np.concatenate([np.full(len(v), k, dtype=np.int64) for k, v in hits.items()]))
        bc = (PJ.pip_join(self.ctx.spark, self.points, self.layer, key_col="id")
              .select("id", "polygon_id").toArrow())
        bc_pairs = _sorted_pairs(bc["id"].to_numpy(), bc["polygon_id"].to_numpy())
        if not np.array_equal(bc_pairs, self.ref_pairs):
            raise RuntimeError("broadcast pip_join differs from the kernel reference")

    def op(self):
        from polycheck_spark.operators import pip_join as PJ
        from polycheck_spark.operators.knn import knn_join
        spark = self.ctx.spark
        with self.ctx.stage("knn"):
            knn = knn_join(self.queries, self.targets, 5,
                           n_targets=SIZES["geo_targets"]).collect()
        with self.ctx.stage("hotspot"):
            hot = PJ.hotspot_regions(self.points, SIZES["geo_res"],
                                     SIZES["geo_min_count"]).collect()
        with self.ctx.stage("detect_hot"):
            cells = PJ.detect_hot_cells(self.points, PJ.choose_cover_res(self.layer))
        with self.ctx.stage("pip_join.partitioned"), no_auto_broadcast(spark):
            pairs = (PJ.pip_join(spark, self.points, self.layer, mode="partitioned",
                                 hot_cells=cells, key_col="id")
                     .select("id", "polygon_id").toArrow())
        return {"knn": [(int(r["query_id"]), int(r["target_id"]), int(r["rank"]))
                        for r in knn],
                "hot": [tuple(int(x) for x in r) for r in hot],
                "pairs": _sorted_pairs(pairs["id"].to_numpy(),
                                       pairs["polygon_id"].to_numpy())}

    def check(self, out):
        problems = []
        if len(out["knn"]) != len(self.ref_knn) or set(out["knn"]) != self.ref_knn:
            problems.append("knn_join differs from the NumPy brute force")
        if len(out["hot"]) != len(self.ref_hot) or set(out["hot"]) != self.ref_hot:
            problems.append("hotspot_regions differs from hotspot_regions_sql in DuckDB")
        if not np.array_equal(out["pairs"], self.ref_pairs):
            problems.append("partitioned pip_join differs from the broadcast multiset")
        return problems

    def plant(self, out):
        return dict(out, knn=out["knn"][1:])

    def observe(self, out):
        return {"pages": self.items, "hits": len(out["pairs"])}

    def probes(self, ctx):
        return {}


@contextmanager
def no_auto_broadcast(spark):
    """At this size the layer's build side is below the broadcast
    threshold, so the planner would turn the partitioned join into a
    broadcast one.  Turn that off for the call, as a layer above the
    threshold would, so the salted shuffle join is what runs."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _sorted_pairs(ids, pids):
    pairs = np.column_stack([np.asarray(ids, np.int64), np.asarray(pids, np.int64)])
    return pairs[np.lexsort((pairs[:, 1], pairs[:, 0]))]


class TileJob:
    """One crash-and-resume cycle of the resumable pip_join job."""

    name = "tile_job"
    warm_ops, min_ops = 3, 3
    pip_stages = ("tables.crash_run", "tables.resume")

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.buckets = SIZES["tile_buckets"]
        # the job synthesizes its own pages from the count: the seed picks
        # the count's tail and the bucket at which the first call crashes
        self.items = SIZES["tile_pages"] + seed % 1000
        self.fail_bucket = seed % self.buckets
        self._n = 0

    def make_inputs(self):
        pass

    def setup(self, ctx):
        self.ctx = ctx

    def _dir(self):
        self._n += 1
        return os.path.join(self.work, f"tile_{self._n}")

    def reference(self):
        """Per-bucket hit counts from the kernel over the pages the job
        synthesizes (read straight from ``synth``, bucketed by the job's
        url hash), and the sha256 of every page's text.  A clean job run
        must produce exactly these counts; none of the job, table or join
        code runs here."""
        from pyspark.sql import functions as F
        from polycheck_spark.data import synth
        from polycheck_spark.data.polygons import default_query_layer
        pages = (synth.geocoded_pages(self.ctx.spark, self.items)
                 .select("url", "text", "lon", "lat",
                         F.pmod(F.xxhash64("url"), F.lit(self.buckets)).alias("bucket"))
                 .toArrow())
        bucket = pages["bucket"].to_numpy().astype(np.int64)
        self.bucket_pages = np.bincount(bucket, minlength=self.buckets)
        hits = kernel_hits(default_query_layer(), pages["lon"].to_numpy(),
                           pages["lat"].to_numpy())
        per_page = np.bincount(np.concatenate(list(hits.values())), minlength=len(bucket))
        self.ref_counts = {str(b): int(per_page[bucket == b].sum())
                           for b in range(self.buckets)}
        self.text_sha = {u: hashlib.sha256(t.encode()).hexdigest()
                         for u, t in zip(pages["url"].to_pylist(), pages["text"].to_pylist())}

    def op(self):
        from polycheck_spark.jobs.pip_join_job import run_job
        out_dir = self._dir()
        crashed = False
        with self.ctx.stage("tables.crash_run"):
            try:
                run_job(self.ctx.spark, self.items, self.buckets, out_dir,
                        fail_on=lambda k: k == self.fail_bucket)
            except RuntimeError:
                crashed = True
        with self.ctx.stage("tables.resume"):
            res = run_job(self.ctx.spark, self.items, self.buckets, out_dir)
        return {"dir": out_dir, "crashed": crashed, **res}

    def check(self, out):
        from polycheck_spark.io.tables import CheckpointedWriter
        problems = []
        if not out["crashed"]:
            problems.append("the injected failure did not raise")
        snap = out["snapshot"]
        if snap["row_counts"] != self.ref_counts:
            problems.append("resumed per-bucket row counts differ from the reference")
        bad = CheckpointedWriter(out["dir"]).validate_snapshot(snap["snapshot_id"])
        if bad:
            problems.append(f"validate_snapshot reports {bad}")
        rows = _read_buckets(out["dir"])
        if rows.num_rows != sum(self.ref_counts.values()):
            problems.append("output rows differ from the reference total")
        if any(self.text_sha.get(u) != s for u, s in
               zip(rows["url"].to_pylist(), rows["text_sha"].to_pylist())):
            problems.append("text_sha differs from sha256 of the page text")
        shutil.rmtree(out["dir"], ignore_errors=True)
        return problems

    def plant(self, out):
        """Duplicate one committed bucket's data file."""
        bdir = os.path.join(out["dir"], f"bucket={self.fail_bucket}")
        src = sorted(n for n in os.listdir(bdir) if n.endswith(".parquet"))[0]
        shutil.copy(os.path.join(bdir, src), os.path.join(bdir, "dup-" + src))
        return out

    def observe(self, out):
        """Pages and hits through the join (the crashed bucket runs twice)
        and the job's own table metrics, read before the check removes
        the output directory."""
        from polycheck_spark.io.tables import CheckpointedWriter
        counts = out["snapshot"]["row_counts"]
        b = self.fail_bucket
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(out["dir"])
                   if os.path.basename(d).startswith("bucket=") for f in fs)
        run = out["run"]
        return {"pages": int(self.items + self.bucket_pages[b]),
                "hits": sum(counts.values()) + counts[str(b)],
                "tables.bucket_s": sum(r["latency_sec"] for r in
                                       CheckpointedWriter(out["dir"]).lineage()),
                "tables.bytes_per_page": size / self.items,
                "tables.resume_skip_ratio": len(run["skipped"]) / self.buckets}

    def probes(self, ctx):
        """The same three noop-sink timings over the pages the job
        synthesizes."""
        from polycheck_spark.data import synth
        from polycheck_spark.data.polygons import default_query_layer
        return prefix_layers(ctx, synth.geocoded_pages(ctx.spark, self.items),
                             default_query_layer())


def _read_buckets(out_dir):
    import pyarrow as pa
    import pyarrow.parquet as pq
    parts = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("bucket="):
            bdir = os.path.join(out_dir, name)
            for f in sorted(os.listdir(bdir)):
                if f.endswith(".parquet"):
                    parts.append(pq.read_table(os.path.join(bdir, f),
                                               columns=["url", "text_sha"]))
    return pa.concat_tables(parts)


WORKLOADS = {w.name: w for w in (PipPages, GeoRounds, TileJob)}
