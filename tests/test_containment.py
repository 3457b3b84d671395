"""Directional containment + corpus-boilerplate stats: planted-excerpt
semantics, direction asymmetry, cap conservativeness, zero-shingle docs."""

from polycheck_spark.operators.dedup import (
    NGRAM, containment_pairs, common_shingle_stats)

LONG = " ".join(f"tok{i}" for i in range(60))          # 60 distinct tokens
EXCERPT = " ".join(f"tok{i}" for i in range(20, 30))    # contiguous slice


def _corpus(spark):
    rows = [
        (1, LONG),
        (2, EXCERPT),                    # fully contained in doc 1
        (3, "alpha beta gamma delta"),   # unrelated
        (4, "xy"),                       # < NGRAM tokens: zero shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_excerpt_is_contained_one_direction_only(spark):
    out = containment_pairs(_corpus(spark), threshold=(9, 10)).collect()
    by_dir = {(r.contained, r.container): r for r in out}
    assert (2, 1) in by_dir                      # excerpt -> page: ~1.0
    r = by_dir[(2, 1)]
    assert r.n_common == r.n_contained           # every excerpt shingle hits
    assert r.n_container == 60 - NGRAM + 1
    assert (1, 2) not in by_dir                  # page is NOT in the excerpt
    assert all(c[0] != 3 and c[1] != 3 for c in by_dir)  # unrelated doc clean


def test_identical_docs_contained_both_ways(spark):
    docs = spark.createDataFrame(
        [(1, LONG), (2, LONG)], "doc_id long, text string")
    out = containment_pairs(docs, threshold=(1, 1)).collect()
    dirs = {(r.contained, r.container) for r in out}
    assert dirs == {(1, 2), (2, 1)}


def test_common_shingle_stats_counts_and_zero_docs(spark):
    out = {r.doc_id: r for r in
           common_shingle_stats(_corpus(spark)).collect()}
    assert set(out) == {1, 2, 3, 4}
    # doc 2's shingles all recur in doc 1
    assert out[2].n_shingles == 10 - NGRAM + 1
    assert out[2].n_common == out[2].n_shingles
    # doc 1 shares exactly doc 2's shingle set, nothing else
    assert out[1].n_shingles == 60 - NGRAM + 1
    assert out[1].n_common == out[2].n_shingles
    # unrelated and zero-shingle docs
    assert out[3].n_common == 0 and out[3].n_shingles == 4 - NGRAM + 1
    assert out[4].n_shingles == 0 and out[4].n_common == 0


def test_select_survivors_argmax_and_ties(spark):
    from polycheck_spark.operators.dedup import select_survivors
    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 8)],
        "doc_id long, cluster_id long")
    scores = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (7, 1), (8, 0)],
        "doc_id long, score int")
    out = {r.cluster_id: r for r in
           select_survivors(assign, scores).collect()}
    assert set(out) == {1, 7, 8}
    # argmax wins over min-id; tie (2 vs 3, both score 9) -> smaller id
    assert out[1].doc_id == 2 and out[1].score == 9 and out[1].n_members == 3
    # singletons survive as themselves
    assert out[7].doc_id == 7 and out[7].n_members == 1
    assert out[8].doc_id == 8 and out[8].score == 0


def test_leakfree_split_clusters_stay_together(spark):
    from polycheck_spark.operators.dedup import leakfree_split
    # 300 clusters of 1-3 members
    assign = spark.range(600).selectExpr(
        "id AS doc_id", "CAST(id % 300 AS long) AS cluster_id")
    out = leakfree_split(assign, [("train", 8), ("val", 1), ("test", 1)])
    rows = out.collect()
    assert len(rows) == 600 and all(r.split in {"train", "val", "test"}
                                    for r in rows)
    # every cluster maps to exactly ONE split
    per = {}
    for r in rows:
        per.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in per.values())
    # ratio sanity on clusters (binomial: 300 clusters, p_train=0.8)
    n_train_clusters = sum(1 for s in per.values() if s == {"train"})
    assert 200 < n_train_clusters < 290
    import pytest as _pt
    with _pt.raises(ValueError, match="splits"):
        leakfree_split(assign, [])
    with _pt.raises(ValueError, match="splits"):
        leakfree_split(assign, [("a", 0)])
