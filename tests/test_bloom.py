"""Distributed Bloom filter: no false negatives, sane FP rate, and the
bloom-prefiltered incremental dedup is bit-identical to the plain one."""

import pytest
from pyspark.sql import functions as F

from polycheck_spark.operators.bloom import (
    bloom_build, bloom_might_contain, bloom_incremental_dedup)
from polycheck_spark.operators.dedup import incremental_dedup

M = 1 << 16
K = 5


def _members(spark, n=2000):
    return spark.range(n).select(
        F.md5(F.concat(F.lit("member-"), F.col("id"))).alias("v"))


def test_no_false_negatives_and_low_fp_rate(spark):
    members = _members(spark)
    bloom = bloom_build(members, "v", m_bits=M, k=K)
    hit = bloom_might_contain(members, "v", bloom, m_bits=M, k=K)
    assert hit.filter(~F.col("bloom_hit")).count() == 0  # NO false negatives
    outsiders = spark.range(20000).select(
        F.md5(F.concat(F.lit("outsider-"), F.col("id"))).alias("v"))
    fp = (bloom_might_contain(outsiders, "v", bloom, m_bits=M, k=K)
          .filter(F.col("bloom_hit")).count())
    # theory: (1 - e^(-5*2000/65536))^5 ~ 5e-5; allow 100x slack
    assert fp / 20000 < 0.005, fp


def test_bitmap_shape_and_empty_set(spark):
    members = _members(spark, 50)
    row = bloom_build(members, "v", m_bits=M, k=K).collect()[0]
    assert len(row.words) == M // 64
    assert any(w != 0 for w in row.words)
    empty = _members(spark).filter(F.lit(False))
    erow = bloom_build(empty, "v", m_bits=M, k=K).collect()[0]
    assert len(erow.words) == M // 64 and all(w == 0 for w in erow.words)
    # probing the empty bitmap: everything is a definite miss
    miss = bloom_might_contain(members, "v",
                               bloom_build(empty, "v", m_bits=M, k=K),
                               m_bits=M, k=K)
    assert miss.filter(F.col("bloom_hit")).count() == 0


def test_probe_is_broadcast_not_shuffle(spark):
    members = _members(spark, 100)
    bloom = bloom_build(members, "v", m_bits=M, k=K)
    plan = (bloom_might_contain(members, "v", bloom, m_bits=M, k=K)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" in plan


def test_param_validation(spark):
    members = _members(spark, 10)
    with pytest.raises(ValueError, match="m_bits"):
        bloom_build(members, "v", m_bits=100, k=K)
    with pytest.raises(ValueError, match="k must"):
        bloom_build(members, "v", m_bits=M, k=0)


def test_bloom_incremental_dedup_equals_plain(spark):
    # batch with corpus overlaps AND in-batch dups; corpus with extras
    batch = spark.range(600).selectExpr(
        "id AS doc_id",
        "concat('text-', CAST(id % 450 AS STRING)) AS text")  # in-batch dups
    corpus = spark.range(300).selectExpr(
        "concat('text-', CAST(id * 3 AS STRING)) AS t").select(
        F.md5(F.col("t")).alias("digest"))
    plain = sorted(map(tuple, incremental_dedup(batch, corpus).collect()))
    bloomed = sorted(map(tuple, bloom_incremental_dedup(
        batch, corpus, m_bits=1 << 12).collect()))
    assert plain == bloomed
    # sanity: all three statuses occur
    statuses = {t[2] for t in plain}
    assert statuses == {"new", "dup_of_corpus", "dup_in_batch"}
