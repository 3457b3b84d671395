"""Distributed Bloom filter as pure DataFrame composition.

The classic corpus-scale membership prefilter: build a bitmap over the
corpus digest index ONCE, then answer "definitely absent / maybe present"
map-side, so only the (small) maybe-present fraction of an incoming batch
pays the digest-keyed join against the index.  Both halves stay inside
Catalyst:

* **build** — each value emits ``k`` bit positions (``pmod(xxhash64(v, i),
  m)``); positions fold to 64-bit words via one map-side-combined
  ``groupBy(word_idx).agg(bit_or(mask))`` — the shuffle is bounded by
  ``m/64`` words, NEVER by the corpus — and a final one-row aggregation
  densifies the sparse words into an ``array<long>`` bitmap.  No driver
  collect of corpus data at any point.
* **probe** — the one-row bitmap broadcast-joins onto the batch; the ``k``
  membership tests are Column expressions (``shiftright(word, bit) & 1``,
  sign-safe for bit 63), so the batch itself is NEVER shuffled to be
  probed.

False positives are possible (rate ~``(1 - e^(-k*n/m))^k``), false
negatives are not — so any consumer that re-verifies hits exactly (e.g.
:func:`bloom_incremental_dedup` below) is bit-identical to the
unfiltered operator, which is what makes the composition oracle-checkable
against the plain SQL twin.

At 10^12 docs: size ``m_bits`` to the index cardinality (~10 bits/key for
<1% FP) — 10^10 keys -> ~12.5 GB bitmap, at which point shard the bitmap
by digest prefix and probe each shard's slice; the build aggregation is
already shard-parallel because word indices partition cleanly.  In a
production deployment the bitmap is persisted next to the digest index
and updated incrementally (bit_or is idempotent/commutative), so the
build scan here is a once-per-corpus cost, not per-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _validate(m_bits: int, k: int) -> None:
    if m_bits <= 0 or m_bits % 64 != 0:
        raise ValueError("m_bits must be a positive multiple of 64")
    if not 1 <= k <= 16:
        raise ValueError("k must be in [1, 16]")


def bloom_build(values: DataFrame, col: str, *, m_bits: int,
                k: int = 5) -> DataFrame:
    """One-row DataFrame ``(words: array<long>)`` of length ``m_bits/64``:
    the Bloom bitmap over ``values[col]`` with ``k`` xxhash64-derived hash
    functions.  Wholly distributed — the only single-point step is the
    final densify over ``m_bits/64`` words, which is bitmap-sized, not
    corpus-sized."""
    _validate(m_bits, k)
    pos = F.explode(F.array(
        *[F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m_bits))
          for i in range(k)])).alias("__pos")
    bits = values.select(pos).select(
        F.expr("CAST(__pos div 64 AS INT)").alias("__widx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT))")
        .alias("__mask"))
    sparse = bits.groupBy("__widx").agg(F.bit_or("__mask").alias("__word"))
    nwords = m_bits // 64
    return (sparse.agg(F.map_from_entries(
                F.collect_list(F.struct("__widx", "__word"))).alias("__m"))
            .select(F.transform(
                F.sequence(F.lit(0), F.lit(nwords - 1)),
                lambda i: F.coalesce(F.element_at(F.col("__m"), i),
                                     F.lit(0).cast("long"))).alias("words")))


def bloom_might_contain(df: DataFrame, col: str, bloom: DataFrame, *,
                        m_bits: int, k: int = 5) -> DataFrame:
    """``df`` plus boolean ``bloom_hit``: False means ``df[col]`` is
    DEFINITELY not in the built set; True means maybe.  ``m_bits``/``k``
    must match the :func:`bloom_build` call that produced ``bloom``.
    ``col`` must be a plain column name (the tests are SQL expressions).
    Map-side only: the one-row bitmap broadcasts; ``df`` is not shuffled."""
    _validate(m_bits, k)
    probed = df.crossJoin(F.broadcast(bloom))
    hit = F.lit(True)
    for i in range(k):
        p = f"pmod(xxhash64({col}, {i}), {m_bits})"
        hit = hit & F.expr(
            f"(shiftright(element_at(words, CAST({p} div 64 AS INT) + 1), "
            f"CAST(pmod({p}, 64) AS INT)) & 1) = 1")
    return probed.withColumn("bloom_hit", hit).drop("words")


def bloom_incremental_dedup(new_docs: DataFrame, seen_digests: DataFrame, *,
                            m_bits: int = 1 << 20) -> DataFrame:
    """Bloom-accelerated twin of
    :func:`polycheck_spark.operators.dedup.incremental_dedup` — same
    (id, digest, status) output BIT-FOR-BIT (pytest-pinned), because the
    bloom is a lossless prefilter: misses are guaranteed 'not in corpus'
    and skip the index join entirely; hits (including false positives)
    are re-verified by the exact digest join.  Only the hit fraction of
    the batch shuffles against the index — at a realistic inter-crawl dup
    rate that is a few percent of the batch instead of all of it.

    ``seen_digests`` is scanned twice here (bloom build + verify join);
    in production the bitmap is persisted with the index (see module
    docstring), so the per-batch cost is probe + hit-fraction join."""
    from pyspark.sql import Window
    batch = new_docs.select("doc_id", F.md5(F.col("text")).alias("digest"))
    seen = seen_digests.select("digest").distinct()
    bloom = bloom_build(seen, "digest", m_bits=m_bits, k=5)
    probed = bloom_might_contain(batch, "digest", bloom, m_bits=m_bits, k=5)
    hits = (probed.filter(F.col("bloom_hit"))
            .join(seen.withColumn("__seen", F.lit(True)), "digest", "left"))
    misses = (probed.filter(~F.col("bloom_hit"))
              .withColumn("__seen", F.lit(None).cast("boolean")))
    j = (hits.select("doc_id", "digest", "__seen")
         .unionByName(misses.select("doc_id", "digest", "__seen")))
    w = Window.partitionBy("digest").orderBy("doc_id")
    return (j.withColumn("__rn", F.row_number().over(w))
            .select("doc_id", "digest",
                    F.when(F.col("__seen").isNotNull(), "dup_of_corpus")
                    .when(F.col("__rn") > 1, "dup_in_batch")
                    .otherwise("new").alias("status")))
