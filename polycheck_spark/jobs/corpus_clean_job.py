"""Resumable end-to-end corpus-clean job: spark-submit entry point.

    spark-submit --py-files dist/polycheck_spark.zip \\
        polycheck_spark/jobs/corpus_clean_job.py \\
        --pages 200000 --buckets 8 --out /tmp/clean_out

The fifth pipeline on the checkpoint layer (cf. pip_join_job / dedup_job /
near_dup_job / ann_topk_job): the FULL cleaning composition a training-data
pipeline runs over a crawl —

    url-canonical frontier dedup  ->  html -> text extraction (per-paragraph
    lines)  ->  C4-style boilerplate-line removal  ->  quality + language
    gates  ->  exact dedup  ->  verified fuzzy (MinHash) dedup

— resumable at TWO bucket granularities, each globally exact:

* **Phase 1 (digest buckets)**: the gated clean corpus is staged ONCE
  partitioned by a hash of the clean-text digest, so byte-identical texts
  land in the same bucket and per-bucket exact dedup is globally exact
  (the dedup_job property).  Each bucket also stamps its survivors'
  MinHash signatures (a per-document projection — bucket-local by nature).
* **Phase 2 (band buckets)**: survivors are re-staged ONCE exploded to
  their LSH band keys, partitioned by hash(band, key).  A candidate pair
  can collide on several bands (= land in several buckets); each bucket
  emits a pair ONLY when ITS band is the smallest agreeing band —
  decidable bucket-locally because rows carry the full 16-value signature
  — so bucket outputs are disjoint and their union is exactly the global
  candidate set (the near_dup_job property).  Pairs are verified by
  signature-agreement fraction (>= AGREE_MIN of 16) before emission.
* **Finalize**: fuzzy pairs are a tiny relation (bounded by true near-dup
  mass); connected components runs on their ENDPOINTS only, and survivors
  come from one anti-join of the clean corpus against the non-minimum
  cluster members — never a corpus-sized driver structure.

Killed at any point, a re-submit skips committed buckets and produces
byte-identical output (pinned by tests/test_resume.py).
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import functions as F

from polycheck_spark.data import synth
from polycheck_spark.io.tables import CheckpointedWriter
from polycheck_spark.operators import web as W
from polycheck_spark.operators.dedup import (
    BAND_SIZE, N_BANDS, N_MINHASH, band_rows, connected_components,
    digest_bucket_col, minhash_signatures)
from polycheck_spark.operators.text import strip_boilerplate, tokens_col
from polycheck_spark.session import local_frame

STAGE1 = "cleaned_by_digest"
STAGE2 = "survivors_by_band"

BOILERPLATE = "subscribe to our newsletter for daily updates"

#: 1-in-N pages of the synthetic crawl that get a URL variant, an exact
#: copy and a near copy
VARIANT_MOD, DUP_MOD, NEAR_MOD = 7, 5, 6
#: token gate; at least the shingle width (3), so every gated doc has a
#: MinHash signature
MIN_TOKENS = 6
#: signature values (of 16) a candidate pair must agree on
AGREE_MIN = 12
#: phase-2 crash injection (a bucket predicate), for the resume tests
FAIL_ON_PAIRS = None


def _synth_crawl(spark, num_pages: int):
    """Deterministic crawl with the failure modes each stage exists for:
    url variants of the same fetch (frontier dedup), exact text copies
    under different canonicals (exact dedup), NEAR copies — one token
    appended, shingle Jaccard (n-2)/(n-1) — under different canonicals
    (fuzzy dedup), and a boilerplate paragraph on a third of the pages
    (line removal)."""
    pages = synth.generate_pages(spark, num_pages) \
        .select("url", "warc_ts", "text", "lang")
    # same fetch re-crawled with a tracking query: collapses at the frontier
    variants = (pages.filter(F.pmod(F.xxhash64("url", F.lit(1)), F.lit(VARIANT_MOD)) == 0)
                .withColumn("url", F.concat(F.col("url"), F.lit("?utm=1"))))
    # same bytes under a DIFFERENT canonical: survives the frontier, caught
    # by the digest buckets
    copies = (pages.filter(F.pmod(F.xxhash64("url", F.lit(2)), F.lit(DUP_MOD)) == 0)
              .withColumn("url", F.concat(F.col("url"), F.lit("/copy"))))
    # near copy: distinct canonical AND distinct bytes, but almost every
    # shingle shared — only the fuzzy stage can catch these
    nears = (pages.filter(F.pmod(F.xxhash64("url", F.lit(3)), F.lit(NEAR_MOD)) == 0)
             .withColumn("url", F.concat(F.col("url"), F.lit("/v2")))
             .withColumn("text", F.concat(F.col("text"), F.lit(" updated"))))
    crawl = (pages.unionByName(variants).unionByName(copies)
             .unionByName(nears))
    bp = (F.when(F.pmod(F.xxhash64("url", F.lit(13)), F.lit(3)) == 0,
                 F.lit(f"<p>{BOILERPLATE}</p>")).otherwise(F.lit("")))
    body = F.concat(F.lit("<html><body>"), bp,
                    F.lit("<p>"), F.col("text"), F.lit("</p></body></html>"))
    return crawl.select("url", "warc_ts", "lang",
                        F.encode(body, "utf-8").alias("html"))


def _extract_lines_col(html):
    """html -> newline-separated visible text: paragraphs split on </p>,
    each fragment extracted with the oracle-checked html_to_text chain
    (whitespace-normalizing per LINE, so line structure survives for the
    boilerplate stage)."""
    frags = F.split(html.cast("string"), "</p>")
    lines = F.transform(frags, lambda p: W.html_to_text_col(p))
    return F.array_join(F.filter(lines, lambda x: x != ""), "\n")


def run_job(spark, num_pages: int, n_buckets: int, out_dir: str, *,
            fail_on=None) -> dict:
    # the planted boilerplate rides ~1/3 of pages; organic lines are
    # text-level dups bounded by the copy injection (~1/DUP_MOD)
    max_line_df = max(8, num_pages // 50)
    langs_keep = tuple(synth.LANGS[:-1])   # gate drops the last language

    phase1 = CheckpointedWriter(os.path.join(out_dir, "cleaned"))
    phase2 = CheckpointedWriter(os.path.join(out_dir, "fuzzy_pairs"))

    # ---- phase 1 staging: frontier dedup + extract + strip + gates --------
    def write_clean(path):
        crawl = _synth_crawl(spark, num_pages)
        canon = crawl.withColumn("curl", W.canonical_url_col(F.col("url")))
        frontier = canon.join(
            canon.groupBy("curl").agg(F.min("url").alias("url")),
            ["curl", "url"], "inner")
        extracted = frontier.select(
            "url", "warc_ts", "lang",
            _extract_lines_col(F.col("html")).alias("raw_text"))
        cleaned = (extracted.join(
            strip_boilerplate(extracted, max_line_df,
                              id_col="url", text_col="raw_text"),
            "url")
            .select("url", "warc_ts", "lang",
                    F.col("clean_text").alias("text")))
        gated = (cleaned
                 .filter(F.size(tokens_col(F.col("text"))) >= MIN_TOKENS)
                 .filter(F.col("lang").isin(*langs_keep)))
        (gated.withColumn("text_md5", F.md5("text"))
         .withColumn("doc_key", F.xxhash64("url"))
         .withColumn("bucket", digest_bucket_col(F.col("text_md5"), n_buckets))
         .write.mode("overwrite").partitionBy("bucket").parquet(path))

    params1 = {"pages": num_pages, "buckets": n_buckets,
               "variant_mod": VARIANT_MOD, "dup_mod": DUP_MOD,
               "near_mod": NEAR_MOD,
               "min_tokens": MIN_TOKENS, "max_line_df": max_line_df,
               "langs_keep": langs_keep}
    # phase 2 consumes phase 1's output: a phase-1 restage makes it stale too
    staged1 = phase1.stage(STAGE1, params1, write_clean, downstream=(phase2,))

    # ---- phase 1 buckets: exact dedup + signature stamping ----------------
    def build_clean_bucket(k: int):
        bucket = phase1.read_bucket(spark, staged1, "bucket", k)
        keep = (bucket.groupBy("text_md5")
                .agg(F.min("url").alias("url"),
                     F.count(F.lit(1)).alias("n_exact_dups")))
        reps = bucket.join(keep, ["text_md5", "url"], "inner")
        sig = minhash_signatures(reps, id_col="doc_key") \
            .withColumnRenamed("id", "doc_key")
        return (reps.join(sig, "doc_key")
                .select("doc_key", "url", "warc_ts", "lang", "text",
                        "text_md5", "n_exact_dups",
                        *[f"m{i}" for i in range(N_MINHASH)]))

    run1 = phase1.run(list(range(n_buckets)), build_clean_bucket, fail_on=fail_on)
    snap1 = phase1.commit_snapshot()

    # ---- phase 2 staging: survivors exploded to band keys -----------------
    def write_bands(path):
        bands = band_rows(phase1.read_output(spark), "doc_key",
                          *[f"m{i}" for i in range(N_MINHASH)])
        (bands.withColumn("wb", F.pmod(F.xxhash64("band", "bkey"),
                                       F.lit(n_buckets)).cast("int"))
         .write.mode("overwrite").partitionBy("wb").parquet(path))

    staged2 = phase2.stage(STAGE2, {"input": params1, "agree_min": AGREE_MIN},
                           write_bands)

    # ---- phase 2 buckets: disjoint verified candidate pairs ---------------
    def build_pair_bucket(k: int):
        part = phase2.read_bucket(spark, staged2, "wb", k)
        x = part.alias("x")
        y = part.alias("y")
        j = (x.join(y, ["band", "bkey"])
             .filter(F.col("x.doc_key") < F.col("y.doc_key")))
        # smallest-agreeing-band rule makes bucket outputs disjoint: the
        # pair is emitted only where THIS band is the first agreement
        first_agree = F.lit(True)
        for b in range(N_BANDS):
            band_eq = F.lit(True)
            for jj in range(BAND_SIZE):
                c = f"m{b * BAND_SIZE + jj}"
                band_eq = band_eq & (F.col(f"x.{c}") == F.col(f"y.{c}"))
            first_agree = F.when(F.lit(b) < F.col("band"),
                                 first_agree & ~band_eq).otherwise(first_agree)
        n_agree = sum((F.col(f"x.m{i}") == F.col(f"y.m{i}")).cast("int")
                      for i in range(N_MINHASH))
        return (j.filter(first_agree)
                .withColumn("n_agree", n_agree)
                .filter(F.col("n_agree") >= AGREE_MIN)
                .select(F.col("x.doc_key").alias("a"),
                        F.col("y.doc_key").alias("b"), "n_agree"))

    run2 = phase2.run(list(range(n_buckets)), build_pair_bucket,
                      fail_on=FAIL_ON_PAIRS)
    snap2 = phase2.commit_snapshot()

    # ---- finalize: CC on pair endpoints, anti-join the corpus -------------
    if snap2["total_rows"] > 0:
        pairs = phase2.read_output(spark).select("a", "b")
    else:
        pairs = local_frame(spark, [], "a long, b long")
    survivors = phase1.read_output(spark)
    endpoints = (pairs.select(F.col("a").alias("id"))
                 .unionAll(pairs.select(F.col("b").alias("id"))).distinct())
    dropped = (connected_components(endpoints, pairs)
               .filter(F.col("id") != F.col("cluster_id"))
               .select(F.col("id").alias("doc_key")))
    final = survivors.join(dropped, "doc_key", "left_anti") \
        .select("doc_key", "url", "warc_ts", "lang", "text", "text_md5",
                "n_exact_dups")
    final_dir = os.path.join(out_dir, "final")
    final.write.mode("overwrite").parquet(final_dir)
    n_final = final.count()
    return {
        "phase1": {"run": run1, "snapshot": snap1},
        "phase2": {"run": run2, "snapshot": snap2},
        "n_fuzzy_pairs": pairs.count(),
        "n_exact_survivors": snap1["total_rows"],
        "n_final": n_final,
        "final_dir": final_dir,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=100_000)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    from polycheck_spark.session import get_spark
    spark = get_spark("corpus_clean_job")
    out = run_job(spark, args.pages, args.buckets, args.out)
    print({k: out[k] for k in ("n_exact_survivors", "n_fuzzy_pairs", "n_final")})
    print(out["phase1"]["snapshot"])


if __name__ == "__main__":
    main()
