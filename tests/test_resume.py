"""Kill-and-resume: interrupted job + rerun == uninterrupted run, exactly once."""

import pytest

from polycheck_spark.io.tables import CheckpointedWriter
from polycheck_spark.jobs.pip_join_job import run_job


def _rows(spark, out_dir):
    w = CheckpointedWriter(out_dir)
    return sorted(tuple(r) for r in w.read_output(spark)
                  .select("url", "polygon_id", "text_sha").collect())


def test_resume_after_kill_is_exactly_once(spark, tmp_path):
    n_pages, n_buckets = 3000, 6
    clean_dir = str(tmp_path / "clean")
    resumed_dir = str(tmp_path / "resumed")

    # uninterrupted reference run
    ref = run_job(spark, n_pages, n_buckets, clean_dir)
    assert len(ref["run"]["processed"]) == n_buckets

    # interrupted run: crash before bucket 3 commits
    with pytest.raises(RuntimeError, match="injected failure"):
        run_job(spark, n_pages, n_buckets, resumed_dir, fail_on=lambda k: k == 3)
    partial = CheckpointedWriter(resumed_dir).completed_buckets()
    assert partial == {0, 1, 2}

    # resume: only the unfinished buckets run
    out = run_job(spark, n_pages, n_buckets, resumed_dir)
    assert sorted(out["run"]["skipped"]) == [0, 1, 2]
    assert sorted(out["run"]["processed"]) == [3, 4, 5]

    # identical final output, identical lineage row counts
    assert _rows(spark, resumed_dir) == _rows(spark, clean_dir)
    assert out["snapshot"]["total_rows"] == ref["snapshot"]["total_rows"]


def test_job_stages_source_once_and_prunes(spark, tmp_path):
    """Write-once-read-pruned: the source is materialized a single time
    (stage marker) and each bucket's scan carries a partition filter — no
    per-bucket source rescan."""
    import os
    out_dir = str(tmp_path / "job")
    run_job(spark, 2000, 4, out_dir)
    assert os.path.exists(os.path.join(out_dir, "_lineage", "stage_pages.json"))
    staged = os.path.join(out_dir, "_staged_pages")
    assert sorted(n for n in os.listdir(staged) if n.startswith("bucket=")) \
        == [f"bucket={k}" for k in range(4)]
    # the bucket read is partition-pruned, not expression-filtered over all rows
    df = CheckpointedWriter.read_bucket(spark, staged, "bucket", 2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters", 1)[1][:160]
    assert "bucket" in pf, pf
    # resuming after completion re-runs nothing and re-stages nothing
    mtime = os.path.getmtime(os.path.join(out_dir, "_lineage", "stage_pages.json"))
    again = run_job(spark, 2000, 4, out_dir)
    assert again["run"]["processed"] == []
    assert os.path.getmtime(os.path.join(out_dir, "_lineage", "stage_pages.json")) == mtime


def test_param_change_invalidates_lineage(spark, tmp_path):
    """Re-running with different parameters must rebuild everything —
    parameter-insensitive bucket markers must not resurrect old output."""
    import os
    out_dir = str(tmp_path / "job")
    small = run_job(spark, 1000, 4, out_dir)
    big = run_job(spark, 3000, 4, out_dir)
    assert sorted(big["run"]["processed"]) == [0, 1, 2, 3]  # nothing skipped
    assert big["snapshot"]["total_rows"] > small["snapshot"]["total_rows"]
    fresh = run_job(spark, 3000, 4, str(tmp_path / "fresh"))
    assert big["snapshot"]["row_counts"] == fresh["snapshot"]["row_counts"]
    # corrupt (empty) stage marker self-heals by re-staging
    marker = os.path.join(out_dir, "_lineage", "stage_pages.json")
    open(marker, "w").close()
    again = run_job(spark, 3000, 4, out_dir)
    assert again["snapshot"]["row_counts"] == fresh["snapshot"]["row_counts"]


def test_stage_crash_mid_restage_reads_as_never_staged(spark, tmp_path):
    """A restage that dies inside ``write`` leaves neither the old stage
    marker nor any bucket marker behind — its own or a downstream writer's —
    and the next ``stage`` call, even with the ORIGINAL parameters, writes
    again instead of trusting half-overwritten data."""
    import os
    w = CheckpointedWriter(str(tmp_path / "t"))
    down = CheckpointedWriter(str(tmp_path / "down"))
    calls = []

    def write(path):
        calls.append(path)
        spark.range(10).selectExpr("id", "id % 2 AS bucket") \
            .write.mode("overwrite").partitionBy("bucket").parquet(path)

    def crash(path):
        raise RuntimeError("killed mid-stage")

    a, b = {"n": 10}, {"n": 20}
    path = w.stage("s", a, write)
    assert path == os.path.join(w.out_dir, "_staged_s") and len(calls) == 1
    w.run([0, 1], lambda k: w.read_bucket(spark, path, "bucket", k))
    assert w.completed_buckets() == {0, 1}
    assert w.stage("s", a, write) == path and len(calls) == 1   # current
    dpath = down.stage("d", {"input": a}, write)
    down.run([0], lambda k: down.read_bucket(spark, dpath, "bucket", k))

    with pytest.raises(RuntimeError, match="killed mid-stage"):
        w.stage("s", b, crash, downstream=(down,))
    for x in (w, down):
        assert not [n for n in os.listdir(x.lineage_dir) if n.startswith("stage_")]
        assert x.completed_buckets() == set()
        assert not any(n.startswith("bucket=") for n in os.listdir(x.out_dir))

    w.stage("s", a, write)
    down.stage("d", {"input": a}, write)
    assert len(calls) == 4


def test_jobs_stage_only_through_the_writer():
    """The staging protocol lives in ``CheckpointedWriter.stage`` alone: no
    job names the lineage directory or a marker primitive."""
    import pathlib
    import polycheck_spark.jobs as J
    banned = ("_lineage", "is_staged", "staged_record", "clear_stage",
              "mark_staged", "reset_lineage")
    hits = [(p.name, b) for p in sorted(pathlib.Path(J.__file__).parent.glob("*.py"))
            for b in banned if b in p.read_text()]
    assert hits == [], hits


def test_jobs_run_no_python_batches_of_their_own():
    """Jobs run the operators' kernels: no job defines its own Arrow-batch
    Python pass or interpreted array lambda — it calls the operator that
    owns one, whose output the oracles check."""
    import ast
    import pathlib
    import polycheck_spark.jobs as J
    banned = {"mapInPandas", "applyInPandas", "pandas_udf", "zip_with",
              "aggregate"}
    hits = []
    for p in sorted(pathlib.Path(J.__file__).parent.glob("*.py")):
        for node in ast.walk(ast.parse(p.read_text(), str(p))):
            name = (node.attr if isinstance(node, ast.Attribute)
                    else node.id if isinstance(node, ast.Name) else None)
            if name in banned:
                hits.append((p.name, name))
    assert hits == [], hits


def test_lineage_metrics_recorded(spark, tmp_path):
    out_dir = str(tmp_path / "job")
    run_job(spark, 1000, 3, out_dir)
    w = CheckpointedWriter(out_dir)
    lin = w.lineage_df(spark).collect()
    assert len(lin) == 3
    for r in lin:
        assert r["status"] == "complete"
        assert r["rows"] >= 0
        assert r["latency_sec"] > 0
    snap = w.commit_snapshot()
    assert snap["snapshot_id"] == 1 and snap["parent_id"] == 0


def test_snapshot_time_travel(spark, tmp_path):
    """Iceberg-style time travel: snapshot 0 committed over the first two
    buckets stays readable (and row-stable) after later buckets append and
    snapshot 1 supersedes it; footer validation flags tampering."""
    out_dir = str(tmp_path / "tt")
    w = CheckpointedWriter(out_dir)

    def build(k):
        return spark.range(100 * (k + 1)).selectExpr("id", f"{k} AS bucket_no")

    w.run([0, 1], build)
    s0 = w.commit_snapshot()
    w.run([0, 1, 2], build)           # 0,1 skipped (markers), 2 appended
    s1 = w.commit_snapshot()

    df0 = w.read_snapshot(spark, s0["snapshot_id"])
    df1 = w.read_snapshot(spark, s1["snapshot_id"])
    assert df0.count() == 100 + 200 == s0["total_rows"]
    assert df1.count() == 100 + 200 + 300 == s1["total_rows"]
    assert {r["bucket_no"] for r in df0.select("bucket_no").distinct().collect()} == {0, 1}

    assert w.validate_snapshot(0) == {} and w.validate_snapshot(1) == {}
    # tamper: drop a parquet file from bucket 2 -> snapshot 1 flags it,
    # snapshot 0 (which never covered bucket 2) stays intact
    import os
    b2 = os.path.join(out_dir, "bucket=2")
    victim = next(f for f in os.listdir(b2) if f.endswith(".parquet"))
    os.remove(os.path.join(b2, victim))
    assert 2 in w.validate_snapshot(1)
    assert w.validate_snapshot(0) == {}

    with pytest.raises(ValueError):
        w.read_snapshot(spark, 99)


def test_near_dup_job_resumable(spark, tmp_path):
    """Embedding near-dup job (LSH buckets -> per-bucket pairs + rescore ->
    CC -> survivors): its pair set equals near_dup_pairs over the same
    corpus and plane count, and a kill before a bucket commits, then a
    resume, must produce the identical pair set AND identical survivors as
    an uninterrupted run — the pair stage is exactly-once per work bucket
    and the closing CC stage is idempotent over the committed pairs."""
    from polycheck_spark.jobs import near_dup_job as ND
    from polycheck_spark.jobs.near_dup_job import DUP_OFFSET, run_job as nd_run
    from polycheck_spark.operators import similarity as SIM

    n_vecs, n_buckets = 3000, 6
    clean = str(tmp_path / "nd_clean")
    ref = nd_run(spark, n_vecs, n_buckets, clean)
    assert len(ref["run"]["processed"]) == n_buckets
    assert ref["n_pairs"] > 0

    # every injected duplicate that was FOUND collapses onto its original
    # (cluster min is the original id), so found copies leave the survivors
    pairs = sorted(tuple(r) for r in
                   CheckpointedWriter(clean).read_output(spark).collect())
    exp = sorted(tuple(r) for r in SIM.near_dup_pairs(
        ND.corpus(spark, n_vecs, 16), ND.THRESHOLD,
        n_planes=SIM.scaled_n_planes(n_vecs)).collect())
    assert pairs == exp
    surv = {r["id"] for r in spark.read.parquet(ref["survivors_path"]).collect()}
    found_copies = {b for a, b in pairs if b == a + DUP_OFFSET}
    assert found_copies and found_copies.isdisjoint(surv)
    assert len(surv) < n_vecs + n_vecs // 20 + 1     # strictly fewer than vertices

    # kill before bucket 4 commits, resume, compare everything
    resumed = str(tmp_path / "nd_resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        nd_run(spark, n_vecs, n_buckets, resumed, fail_on=lambda k: k == 4)
    assert CheckpointedWriter(resumed).completed_buckets() == {0, 1, 2, 3}
    out = nd_run(spark, n_vecs, n_buckets, resumed)
    assert sorted(out["run"]["skipped"]) == [0, 1, 2, 3]
    assert sorted(out["run"]["processed"]) == [4, 5]
    pairs2 = sorted(tuple(r) for r in
                    CheckpointedWriter(resumed).read_output(spark).collect())
    surv2 = {r["id"] for r in spark.read.parquet(out["survivors_path"]).collect()}
    assert pairs2 == pairs
    assert surv2 == surv


def test_dedup_job_exact_and_resumable(spark, tmp_path):
    """Digest-bucketed dedup job: survivors = exactly the distinct texts
    (cross-bucket copies collapse because identical text => identical
    bucket), representatives are url-smallest, and a kill-resume produces
    the identical output."""
    from pyspark.sql import functions as F
    from polycheck_spark.jobs.dedup_job import run_job as dedup_run

    out_dir = str(tmp_path / "dd")
    res = dedup_run(spark, 2000, 4, out_dir)
    got = CheckpointedWriter(out_dir).read_output(spark)
    rows = got.select("url", "text_md5", "n_dups").collect()

    staged = spark.read.parquet(f"{out_dir}/_staged_pages_by_digest")
    n_distinct = staged.select("text_md5").distinct().count()
    assert len(rows) == n_distinct == res["snapshot"]["total_rows"]
    md5s = [r["text_md5"] for r in rows]
    assert len(md5s) == len(set(md5s))
    # injected dups were counted and the min-url representative won
    assert any(r["n_dups"] >= 2 for r in rows)
    exp_rep = {r["text_md5"]: r["m"] for r in
               staged.groupBy("text_md5").agg(F.min("url").alias("m")).collect()}
    assert all(exp_rep[r["text_md5"]] == r["url"] for r in rows)

    # kill before bucket 3 commits, then resume: identical output
    out2 = str(tmp_path / "dd2")
    with pytest.raises(RuntimeError):
        dedup_run(spark, 2000, 4, out2, fail_on=lambda k: k == 3)
    res2 = dedup_run(spark, 2000, 4, out2)
    rows2 = sorted((r["url"], r["text_md5"], r["n_dups"]) for r in
                   CheckpointedWriter(out2).read_output(spark)
                   .select("url", "text_md5", "n_dups").collect())
    assert rows2 == sorted((r["url"], r["text_md5"], r["n_dups"]) for r in rows)
    assert 3 in res2["run"]["processed"] and len(res2["run"]["skipped"]) == 3


def test_ann_topk_job_exact_and_resumable(spark, tmp_path):
    """Resumable two-stage ANN job: with the integer prefilter disabled
    (top_m >= any bucket candidate count) the job's merged top-k must equal
    ivf_topk BIT-FOR-BIT (same modulus centroids, same probe assignment,
    same Column cosine, same tie-breaks) — the strongest pin available,
    since ivf_topk itself is driver-oracle-checked.  A kill before a bucket
    commits, then a resume, must reproduce the identical output; the
    default prefilter width must be deterministic with high recall of the
    unpruned result."""
    from pyspark.sql import functions as F
    from polycheck_spark.data import synth
    from polycheck_spark.operators import similarity as SIM
    from polycheck_spark.jobs.ann_topk_job import run_job as ann_run

    n_vecs, n_buckets, dim, k, n_probe, q_mod = 3000, 6, 16, 5, 4, 101
    common = dict(dim=dim, k=k, n_probe=n_probe, q_mod=q_mod)

    clean = str(tmp_path / "ann_clean")
    ref = ann_run(spark, n_vecs, n_buckets, clean, top_m=10**9, **common)
    assert len(ref["run"]["processed"]) == n_buckets
    got = sorted((r["query_id"], r["target_id"], r["rank"]) for r in
                 spark.read.parquet(ref["topk_path"]).collect())

    emb = synth.generate_embeddings(spark, n_vecs, dim)
    q = emb.filter(F.col("vec_id") % q_mod == 0)
    exp = sorted((r["query_id"], r["target_id"], r["rank"]) for r in
                 SIM.ivf_topk(emb, q, k, n_probe=n_probe,
                              n_vectors=n_vecs).collect())
    assert got == exp and got

    # kill before bucket 4 commits, resume with identical params
    resumed = str(tmp_path / "ann_resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        ann_run(spark, n_vecs, n_buckets, resumed, top_m=10**9,
                fail_on=lambda b: b == 4, **common)
    assert CheckpointedWriter(resumed).completed_buckets() == {0, 1, 2, 3}
    out = ann_run(spark, n_vecs, n_buckets, resumed, top_m=10**9, **common)
    assert sorted(out["run"]["skipped"]) == [0, 1, 2, 3]
    assert sorted(out["run"]["processed"]) == [4, 5]
    got2 = sorted((r["query_id"], r["target_id"], r["rank"]) for r in
                  spark.read.parquet(out["topk_path"]).collect())
    assert got2 == got

    # default prefilter (m = 4k): deterministic re-rank with high recall
    pruned_dir = str(tmp_path / "ann_m")
    pruned = ann_run(spark, n_vecs, n_buckets, pruned_dir, **common)
    got_m = {(r["query_id"], r["target_id"]) for r in
             spark.read.parquet(pruned["topk_path"]).collect()}
    exact_pairs = {(a, b) for a, b, _ in got}
    assert len(got_m & exact_pairs) >= 0.9 * len(exact_pairs)


def test_ann_topk_job_fills_every_bucket(spark, tmp_path):
    """Work buckets follow the IVF list index: centroid ids are multiples
    of the centroid modulus (46 here, even), so bucketing by the raw id
    modulo 6 would leave buckets 1, 3 and 5 empty."""
    from polycheck_spark.jobs.ann_topk_job import run_job as ann_run

    out = ann_run(spark, 3000, 6, str(tmp_path / "ann"), dim=8, k=3)
    assert all(n > 0 for n in out["snapshot"]["row_counts"].values()), out


def test_corpus_clean_job_end_to_end_and_resumable(spark, tmp_path):
    """The five-stage cleaning job: every stage provably bites (frontier
    variants collapse, boilerplate line gone from every text, the language
    gate holds, exact copies collapse, near copies caught by the verified
    fuzzy stage), and a job killed in EITHER phase resumes to the
    byte-identical final corpus."""
    from pyspark.sql import functions as F
    from polycheck_spark.jobs.corpus_clean_job import (
        BOILERPLATE, run_job as clean_run)

    def final_rows(out_dir):
        return sorted(tuple(r) for r in
                      spark.read.parquet(f"{out_dir}/final")
                      .select("url", "text_md5", "lang", "n_exact_dups")
                      .collect())

    out_dir = str(tmp_path / "cc")
    res = clean_run(spark, 3000, 4, out_dir)
    final = spark.read.parquet(f"{out_dir}/final").localCheckpoint()

    # fuzzy stage bites: near copies were injected and caught
    assert res["n_fuzzy_pairs"] > 0
    assert res["n_final"] < res["n_exact_survivors"]
    # frontier dedup: no ?utm= variant survives (base url always smaller)
    assert final.filter(F.col("url").contains("?utm=")).count() == 0
    # boilerplate line stripped from every surviving text
    assert final.filter(F.col("text").contains(BOILERPLATE)).count() == 0
    # language gate holds
    langs = {r["lang"] for r in final.select("lang").distinct().collect()}
    from polycheck_spark.data.synth import LANGS
    assert LANGS[-1] not in langs and langs
    # exact dedup: distinct digests, injected copies counted
    md5s = [r["text_md5"] for r in final.select("text_md5").collect()]
    assert len(md5s) == len(set(md5s))
    assert final.filter(F.col("n_exact_dups") >= 2).count() > 0

    # kill in phase 1, resume: identical final corpus
    out2 = str(tmp_path / "cc2")
    with pytest.raises(RuntimeError):
        clean_run(spark, 3000, 4, out2, fail_on=lambda k: k == 2)
    res2 = clean_run(spark, 3000, 4, out2)
    assert final_rows(out2) == final_rows(out_dir)
    assert 2 in res2["phase1"]["run"]["processed"]
    assert len(res2["phase1"]["run"]["skipped"]) == 2

    # kill in phase 2, resume: identical final corpus
    out3 = str(tmp_path / "cc3")
    with pytest.raises(RuntimeError):
        clean_run(spark, 3000, 4, out3, fail_on_pairs=lambda k: k == 1)
    res3 = clean_run(spark, 3000, 4, out3)
    assert final_rows(out3) == final_rows(out_dir)
    # phase 1 fully committed before the phase-2 kill: all skipped on resume
    assert len(res3["phase1"]["run"]["skipped"]) == 4
    assert 1 in res3["phase2"]["run"]["processed"]


def test_pagerank_job_iteration_resume_and_refinement(spark, tmp_path):
    """Iteration-granular resume: (1) the job's final table is bit-equal to
    the in-process pagerank() at the same round budget; (2) a kill before
    round 3 commits resumes with rounds 0-2 skipped and reproduces the
    identical table; (3) re-submitting with a LARGER --iters refines from
    the committed rounds (documented property: the budget is not part of
    the lineage-invalidating parameter set) and still matches in-process;
    (4) changing a web-shape parameter tombstones staging + lineage."""
    from pyspark.sql import functions as F
    from polycheck_spark.operators import graph as G
    from polycheck_spark.jobs.pagerank_job import (run_job as pr_run,
                                                   synth_linked_pages)

    pages, hosts, iters = 3000, 53, 4

    clean = str(tmp_path / "pr_clean")
    ref = pr_run(spark, clean, pages, hosts, iters)
    got = sorted((r["host"], r["pr"]) for r in spark.read.parquet(
        f"{clean}/bucket={iters - 1}").collect())

    edges = G.host_link_graph(synth_linked_pages(spark, pages, hosts))
    exp = sorted((r["host"], r["pr"]) for r in
                 G.pagerank(edges, iters=iters).collect())
    assert got == exp and len(got) == hosts
    # the job and the operator share one round function, so the DuckDB twin
    # over the same edges is the independent reference
    import duckdb
    con = duckdb.connect()
    con.register("edges", edges.toArrow())
    assert got == sorted(con.sql(G.pagerank_sql("SELECT * FROM edges",
                                                iters=iters)).fetchall())

    # kill before round 3 (bucket 2) commits, resume, bit-equal output
    resumed = str(tmp_path / "pr_resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        pr_run(spark, resumed, pages, hosts, iters, fail_at=2)
    assert CheckpointedWriter(resumed).completed_buckets() == {0, 1}
    out = pr_run(spark, resumed, pages, hosts, iters)
    assert sorted((r["host"], r["pr"]) for r in spark.read.parquet(
        f"{resumed}/bucket={iters - 1}").collect()) == got
    assert out["total_mass"] == ref["total_mass"]

    # refinement: 2 more rounds on the SAME lineage, nothing recomputed
    more = pr_run(spark, clean, pages, hosts, iters + 2)
    assert sorted((r["host"], r["pr"]) for r in spark.read.parquet(
        f"{clean}/bucket={iters + 1}").collect()) == sorted(
        (r["host"], r["pr"]) for r in
        G.pagerank(edges, iters=iters + 2).collect())
    assert more["n_hosts"] == hosts

    # web-shape change invalidates: different host count -> fresh lineage
    out2 = pr_run(spark, clean, pages, hosts + 2, 2)
    assert out2["n_hosts"] == hosts + 2


def test_train_export_job_end_to_end_and_resumable(spark, tmp_path):
    """The dataloader handoff: cleaned corpus packed into fixed-budget bins
    and exported as sharded parquet.  Layout invariants hold (per-group
    start_offs are the exclusive prefix sums of token counts in doc_key
    order; every cleaned doc exported exactly once; bins shard-complete),
    and a job killed between shards OR inside the inner cleaning job
    resumes to the byte-identical export."""
    from polycheck_spark.jobs.train_export_job import run_job as export_run

    def export_rows(out_dir):
        return sorted(tuple(r) for r in
                      spark.read.parquet(f"{out_dir}/export/bucket=*")
                      .collect())

    out = str(tmp_path / "tx")
    res = export_run(spark, 3000, 4, out, budget=64, n_shards=4)
    export = spark.read.parquet(f"{out}/export/bucket=*").localCheckpoint()

    # every cleaned doc exported exactly once
    clean = spark.read.parquet(res["clean"]["final_dir"])
    assert export.count() == clean.count() == res["n_docs"]
    assert export.select("doc_key").distinct().count() == clean.count()

    # layout invariant: within each (lang, pack_shard), start_off is the
    # exclusive prefix sum of n_tokens in doc_key order
    rows = export.select("lang", "pack_shard", "doc_key", "n_tokens",
                         "start_off", "bin_id", "end_bin").collect()
    by_grp = {}
    for r in rows:
        by_grp.setdefault((r["lang"], r["pack_shard"]), []).append(r)
    for grp in by_grp.values():
        grp.sort(key=lambda r: r["doc_key"])
        off = 0
        for r in grp:
            assert r["start_off"] == off
            assert r["bin_id"] == off // 64
            assert r["end_bin"] == (off + max(r["n_tokens"] - 1, 0)) // 64
            off += r["n_tokens"]
    # lineage row counts cover the whole export
    lineage = res["export_snapshot"]["row_counts"]
    assert sum(int(v) for v in lineage.values()) == res["n_docs"]
    assert res["n_bins"] > 1

    # kill between export shards -> resume -> byte-identical export
    out2 = str(tmp_path / "tx2")
    with pytest.raises(RuntimeError):
        export_run(spark, 3000, 4, out2, budget=64, n_shards=4,
                   fail_on=lambda k: k == 2)
    res2 = export_run(spark, 3000, 4, out2, budget=64, n_shards=4)
    assert export_rows(out2) == export_rows(out)
    assert 2 in res2["export_run"]["processed"]
    assert len(res2["export_run"]["skipped"]) == 2

    # kill inside the INNER cleaning job -> nested resume -> identical
    out3 = str(tmp_path / "tx3")
    with pytest.raises(RuntimeError):
        export_run(spark, 3000, 4, out3, budget=64, n_shards=4,
                   clean_fail_on=lambda k: k == 1)
    res3 = export_run(spark, 3000, 4, out3, budget=64, n_shards=4)
    assert export_rows(out3) == export_rows(out)
    assert 1 in res3["clean"]["phase1"]["run"]["processed"]

    # a budget change re-stages and re-exports (param-sensitive lineage)
    res4 = export_run(spark, 3000, 4, out, budget=32, n_shards=4)
    assert res4["n_bins"] > res["n_bins"]


def test_tile_pyramid_job_exact_and_resumable(spark, tmp_path):
    """Subtree-bucketed pyramid job: the union of per-bucket rollups must
    equal the one-shot tile_rollup EXACTLY (coarse subtrees nest, so bucket
    outputs partition the cell set), bucket cell sets must be disjoint, and
    a kill-resume must reproduce the identical output."""
    from pyspark.sql import functions as F
    from polycheck_spark.data import synth
    from polycheck_spark.jobs.tile_pyramid_job import run_job as pyr_run
    from polycheck_spark.operators import pip_join as PJ

    out_dir = str(tmp_path / "pyr")
    res = pyr_run(spark, 4000, 4, out_dir, res_fine=8, res_coarse=3)
    got = CheckpointedWriter(out_dir).read_output(spark)
    rows = sorted((r["res"], r["cell_id"], r["n_docs"])
                  for r in got.collect())

    # (res, cell_id) keys never repeat across buckets: subtrees are disjoint
    assert len(rows) == len({(r[0], r[1]) for r in rows})

    pts = synth.geocoded_pages(spark, 4000).select("url", "lon", "lat")
    exp = sorted((r["res"], r["cell_id"], r["n_docs"]) for r in
                 PJ.tile_rollup(pts, res_fine=8, res_coarse=3).collect())
    assert rows == exp and res["snapshot"]["total_rows"] == len(exp)

    # kill before bucket 2 commits, then resume: identical output
    out2 = str(tmp_path / "pyr2")
    with pytest.raises(RuntimeError):
        pyr_run(spark, 4000, 4, out2, res_fine=8, res_coarse=3,
                fail_on=lambda k: k == 2)
    res2 = pyr_run(spark, 4000, 4, out2, res_fine=8, res_coarse=3)
    rows2 = sorted((r["res"], r["cell_id"], r["n_docs"]) for r in
                   CheckpointedWriter(out2).read_output(spark).collect())
    assert rows2 == rows
    assert 2 in res2["run"]["processed"] and len(res2["run"]["skipped"]) == 2


def test_rollback_tombstones_and_recomputes(spark, tmp_path):
    """rollback_to(s0): buckets past s0 are tombstoned (marker AND data),
    a NEW snapshot equal to s0's content is committed with history
    preserved, and a resumed run recomputes the rolled-back buckets."""
    out_dir = str(tmp_path / "rb")
    w = CheckpointedWriter(out_dir)

    def build(k):
        return spark.range(100 * (k + 1)).selectExpr("id", f"{k} AS bucket_no")

    w.run([0, 1], build)
    s0 = w.commit_snapshot()
    w.run([0, 1, 2, 3], build)
    s1 = w.commit_snapshot()
    assert s1["total_rows"] == 100 + 200 + 300 + 400

    s2 = w.rollback_to(s0["snapshot_id"])
    assert s2["rollback_of"] == s0["snapshot_id"]
    assert s2["buckets"] == s0["buckets"] == [0, 1]
    assert s2["total_rows"] == s0["total_rows"] == 300
    # the new head reads as the old content; markers for 2/3 are gone
    assert w.read_snapshot(spark, s2["snapshot_id"]).count() == 300
    assert w.completed_buckets() == {0, 1}
    # disk agrees with the manifest: rollback_of survives the re-write
    assert w.snapshot(s2["snapshot_id"])["rollback_of"] == s0["snapshot_id"]
    # history preserved: s0 still validates; s1's manifest remains but its
    # tombstoned buckets are gone from disk
    assert w.validate_snapshot(s0["snapshot_id"]) == {}
    assert w.snapshot(s1["snapshot_id"]) is not None
    # a resumed job recomputes exactly the tombstoned buckets
    w.run([0, 1, 2, 3], build)
    s3 = w.commit_snapshot()
    assert s3["total_rows"] == 1000
    assert w.validate_snapshot(s3["snapshot_id"]) == {}
    with pytest.raises(ValueError):
        w.rollback_to(99)


def test_schema_evolution_add_column(spark, tmp_path):
    """Later buckets may add a column without rewriting committed data:
    the evolved read surfaces it (NULL for pre-evolution rows), the old
    snapshot read through read_snapshot keeps its original schema."""
    out_dir = str(tmp_path / "ev")
    w = CheckpointedWriter(out_dir)

    def build(k):
        if k < 2:
            return spark.range(10).selectExpr("id", f"{k} AS bucket_no")
        return spark.range(10).selectExpr(
            "id", f"{k} AS bucket_no", "id * 2 AS quality")

    w.run([0, 1], build)
    s0 = w.commit_snapshot()
    w.run([0, 1, 2], build)
    s1 = w.commit_snapshot()

    old = w.read_snapshot(spark, s0["snapshot_id"])
    assert "quality" not in old.columns
    ev = w.read_snapshot_evolved(spark, s1["snapshot_id"])
    assert "quality" in ev.columns
    assert ev.count() == 30
    assert ev.filter("quality IS NULL").count() == 20      # pre-evolution rows
    assert ev.filter("quality IS NOT NULL").count() == 10


def test_expire_snapshots_prunes_manifests_and_orphans(spark, tmp_path):
    """expire_snapshots keeps the newest manifests, deletes the rest, and
    garbage-collects bucket data only when NO surviving manifest references
    it and no live marker claims it (the post-rollback orphan case)."""
    import os
    out_dir = str(tmp_path / "ex")
    w = CheckpointedWriter(out_dir)

    def build(k):
        return spark.range(10).selectExpr("id", f"{k} AS bucket_no")

    w.run([0], build)
    s0 = w.commit_snapshot()
    w.run([0, 1], build)
    w.commit_snapshot()
    w.rollback_to(s0["snapshot_id"])          # bucket 1 tombstoned
    # three manifests exist (s0, s1, rollback head); bucket 1's dir is gone
    expired = w.expire_snapshots(keep_last=1)
    assert expired == [0, 1]
    assert w.snapshot(0) is None and w.snapshot(1) is None
    head = w.snapshot(2)
    assert head is not None and head["buckets"] == [0]
    # live data untouched, expired time travel refuses
    assert w.read_snapshot(spark, 2).count() == 10
    with pytest.raises(ValueError):
        w.read_snapshot(spark, 0)
    assert not os.path.exists(os.path.join(out_dir, "bucket=1"))
    with pytest.raises(ValueError):
        w.expire_snapshots(keep_last=0)
