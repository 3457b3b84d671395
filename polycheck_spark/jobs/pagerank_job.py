"""Resumable iterative PageRank job: spark-submit entry point.

    spark-submit --py-files dist/polycheck_spark.zip \\
        polycheck_spark/jobs/pagerank_job.py \\
        --pages 200000 --hosts 997 --iters 5 --out /tmp/pr_out

The sixth pipeline on the checkpoint layer (cf. pip_join_job / dedup_job /
near_dup_job / ann_topk_job / corpus_clean_job) and the first ITERATIVE
one: the five existing jobs resume at data buckets; this one resumes at
ALGORITHM ITERATIONS.  Each power-iteration round is one checkpoint
bucket — bucket k holds the complete integer rank table after round k+1 —
so a job killed at round j re-submits, skips rounds 1..j, reads round j's
parquet, and continues.  That is the production shape for any fixed-point
computation at 10^8-host scale, where re-running completed rounds after a
cluster preemption is real money.

Determinism/exactness: the rank arithmetic is the fixed-point integer
contract of ``operators.graph.pagerank`` (floor division, no floats), so
one round is a pure function of the previous round's table and the staged
edge list — resume is exactly-once by construction, and the final table is
bit-equal to running ``pagerank(edges, iters=n)`` in one process (pinned by
tests/test_resume.py).

A NOTABLE property of iteration-granular lineage: the round budget is NOT
part of the lineage-invalidating parameter set.  Round k's table does not
depend on how many rounds follow it, so re-submitting with a LARGER
``--iters`` resumes from the last committed round and just runs the extra
rounds — refinement for free.  Only the web-shape parameters
(pages/hosts), which change the edge list itself, tombstone the staging
and reset lineage.

Staging: the synthetic crawl -> href extraction -> host link graph runs
ONCE, and the edge list (with out-weights pre-joined) lands in parquet —
every round reads host-pair-sized parquet, never the page corpus.
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import functions as F

from polycheck_spark.io.tables import CheckpointedWriter
from polycheck_spark.operators import graph as G

STAGE = "host_edges"


def synth_linked_pages(spark, num_pages: int, hosts: int):
    """Deterministic crawl over ``hosts`` hosts: page i lives on
    site{i % hosts} and links to two affine-mapped hosts (three on every
    7th page) — the same construction as the driver's 97-host query,
    parameterized.  Relative and mailto hrefs are planted so the
    absolute-http(s) extraction filter does real work."""
    d = F.col("id")

    def site(expr):
        return F.concat(F.lit("site"), expr.cast("string"),
                        F.lit(".example.com"))

    url = F.concat(F.lit("http://"), site(F.pmod(d, F.lit(hosts))),
                   F.lit("/p/"), d.cast("string"))
    l1 = F.concat(F.lit('<a href="http://'),
                  site(F.pmod(d * 31 + 7, F.lit(hosts))), F.lit('/x">a</a>'))
    l2 = F.concat(F.lit('<a href="https://www.'),
                  site(F.pmod(d * 17 + 3, F.lit(hosts))),
                  F.lit('/y?z=1">b</a>'))
    l3 = F.when(F.pmod(d, F.lit(7)) == 0,
                F.concat(F.lit('<a href="http://'),
                         site(F.pmod(d * 5 + 11, F.lit(hosts))),
                         F.lit('/z">c</a>'))).otherwise(F.lit(""))
    html = F.concat(F.lit('<html><body><a href="/rel">r</a>'
                          '<a href="mailto:x@y.z">m</a>'), l1, l2, l3,
                    F.lit("</body></html>"))
    return spark.range(num_pages).select(url.alias("url"), html.alias("html"))


def stage_edges(spark, writer: CheckpointedWriter, num_pages: int,
                hosts: int) -> str:
    """Extract the host link graph once; out-weights are pre-joined so the
    per-round build never re-aggregates.  The round budget is deliberately
    not a staging parameter (see module docstring)."""
    def write(path):
        edges = G.host_link_graph(synth_linked_pages(spark, num_pages, hosts))
        outw = edges.groupBy("src_host").agg(F.sum("n_links").alias("out_w"))
        (edges.join(outw, "src_host")
         .select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"),
                 F.col("n_links").cast("long").alias("w"), "out_w")
         .write.mode("overwrite").parquet(path))

    return writer.stage(STAGE, {"pages": num_pages, "hosts": hosts}, write)


def _nodes(spark, edges_path: str):
    e = spark.read.parquet(edges_path)
    return (e.select(F.col("src").alias("host"))
            .unionAll(e.select(F.col("dst").alias("host"))).distinct())


def build_round(spark, writer: CheckpointedWriter, edges_path: str,
                k: int):
    """Rank table after round k+1: :func:`graph.pagerank_round` over the
    staged edges, reading round k's committed parquet (or the uniform BASE
    table for the first round)."""
    nodes = _nodes(spark, edges_path)
    if k == 0:
        prev = nodes.select("host", F.lit(G.BASE).cast("long").alias("pr"))
    else:
        prev = spark.read.parquet(os.path.join(writer.out_dir,
                                               f"bucket={k - 1}"))
    return G.pagerank_round(spark.read.parquet(edges_path), nodes, prev)


def run_job(spark, out_dir: str, num_pages: int, hosts: int, iters: int,
            fail_on=None) -> dict:
    writer = CheckpointedWriter(out_dir)
    edges_path = stage_edges(spark, writer, num_pages, hosts)
    writer.run(list(range(iters)),
               lambda k: build_round(spark, writer, edges_path, k),
               fail_on=fail_on)
    snap = writer.commit_snapshot()
    final = spark.read.parquet(os.path.join(writer.out_dir,
                                            f"bucket={iters - 1}"))
    top = final.orderBy(F.col("pr").desc(), "host").limit(1).collect()[0]
    agg = final.agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("pr").cast("decimal(38,0)")).alias("mass")
                    ).collect()[0]
    return {"snapshot": snap, "iters": iters, "n_hosts": agg["n"],
            "total_mass": int(agg["mass"]), "top_host": top["host"],
            "top_pr": top["pr"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=200000)
    ap.add_argument("--hosts", type=int, default=997)
    ap.add_argument("--iters", type=int, default=5)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    from polycheck_spark.session import get_spark
    spark = get_spark("pagerank_job")
    print(run_job(spark, args.out, args.pages, args.hosts, args.iters))


if __name__ == "__main__":
    main()
