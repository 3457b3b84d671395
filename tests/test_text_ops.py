"""Text / dedup / similarity operators vs their DuckDB SQL twins."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from polycheck_spark.operators import dedup as D, similarity as S, text as TX


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").localCheckpoint()


def _duck(sf_dir, sql):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')")
    return con.execute(sql).fetchall()


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_token_counts(spark, sf_dir, docs):
    got = _sorted_rows(TX.token_counts(docs))
    exp = sorted(_duck(sf_dir, TX.token_counts_sql("documents")))
    assert got == exp


def test_quality_scores(spark, sf_dir, docs):
    got = _sorted_rows(TX.quality_scores(docs))
    exp = sorted(_duck(sf_dir, TX.quality_scores_sql("documents")))
    assert got == exp


def test_lang_id(spark, sf_dir, docs):
    got = _sorted_rows(TX.lang_id(docs))
    exp = sorted(_duck(sf_dir, TX.lang_id_sql("documents")))
    assert got == exp


def test_unigram_quality(spark, sf_dir, docs):
    got = _sorted_rows(TX.unigram_quality(docs))
    exp = sorted(_duck(sf_dir, TX.unigram_quality_sql("documents")))
    assert got == exp


def test_unigram_quality_semantics(spark):
    """Known-corpus check of the CCNet-style proxy: the rare-token doc
    (gibberish analogue) must score below the corpus mean while the
    stopword-heavy docs score above, with exact integer evidence.

    Corpus: d1 "the the cat", d2 "the dog", d3 "zyx qwv" ->
    counts the=3 cat=dog=zyx=qwv=1; totals freq=13 toks=7 (mean 13/7).
    """
    docs = spark.createDataFrame(
        [(1, "the the cat"), (2, "the dog"), (3, "zyx qwv")],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in TX.unigram_quality(docs).collect()}
    assert (rows[1].freq_sum, rows[1].n_toks, rows[1].above_mean) == (7, 3, 1)
    assert (rows[2].freq_sum, rows[2].n_toks, rows[2].above_mean) == (4, 2, 1)
    assert (rows[3].freq_sum, rows[3].n_toks, rows[3].above_mean) == (2, 2, 0)
    assert rows[3].mean_freq == 1.0


def test_lang_id_script_ranges(spark, tmp_path):
    """Non-Latin scripts must win over the stopword vote — but only when
    they hold >= 1/20 of the characters (the proportional gate: one stray
    CJK char in a long English doc stays en, r4 review finding) — with
    identical classification in both engines (Java regex and RE2 must
    agree on the literal-range classes — pinned cross-engine on real
    script text)."""
    long_en = ("the of and to in is that it for a plain english sentence "
               "padded with many more latin words so the single embedded "
               "character stays far below the five percent script gate")
    rows = [
        (0, "the of and to in is that it for a plain english sentence"),
        (1, "这是一个中文文档 的 网页 内容 with some ascii noise"),
        (2, "это русский текст страницы and the of"),
        (3, "هذا نص عربي من صفحة ويب"),
        (4, "der die das und ist nicht ein mit"),
        (5, "mixed 中文 and русский равные"),  # ru chars > zh chars -> ru
        (6, ""),                                 # empty: falls to en tie-break
        (7, long_en + " 中"),                    # 1 CJK char, gated -> en
        (8, long_en + " это русский текст и ещё много русских слов в хвосте"),
        # ^ cyrillic tail >= 5% of the combined text -> ru despite en bulk
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["lang_guess"] for r in TX.lang_id(docs).collect()}
    assert out == {0: "en", 1: "zh", 2: "ru", 3: "ar", 4: "de", 5: "ru",
                   6: "en", 7: "en", 8: "ru"}

    path = str(tmp_path / "script_docs.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW sdocs AS SELECT * FROM read_parquet('{path}/*.parquet')")
    got = _sorted_rows(TX.lang_id(docs))
    exp = sorted(con.execute(TX.lang_id_sql("sdocs")).fetchall())
    assert got == exp


def test_fingerprints(spark, sf_dir, docs):
    got = _sorted_rows(TX.fingerprints(docs))
    exp = sorted(_duck(sf_dir, TX.fingerprints_sql("documents")))
    assert got == exp


def test_vocab_topk(spark, sf_dir, docs):
    got = _sorted_rows(TX.vocab_topk(docs, 20))
    exp = sorted(_duck(sf_dir, TX.vocab_topk_sql("documents", 20)))
    assert got == exp and got
    # ranks are dense and deterministic under heavy doc_freq ties
    ranks = sorted(r[3] for r in got)
    assert ranks == list(range(1, len(got) + 1))


def test_source_stats(spark, sf_dir, docs):
    got = _sorted_rows(TX.source_stats(docs))
    exp = sorted(_duck(sf_dir, TX.source_stats_sql("documents")))
    assert got == exp and got
    for row in got:
        assert row[4] <= row[1]        # distinct texts <= docs


def test_doc_top_terms(spark, sf_dir, docs):
    got = _sorted_rows(TX.doc_top_terms(docs, 3))
    exp = sorted(_duck(sf_dir, TX.doc_top_terms_sql("documents", 3)))
    assert got == exp and got
    # every doc contributes at most 3 ranked terms, ranks dense from 1
    import collections
    per_doc = collections.defaultdict(list)
    for doc_id, _tok, _tf, _df, rk in got:
        per_doc[doc_id].append(rk)
    for ranks in per_doc.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)) and len(ranks) <= 3


def test_doc_top_terms_rarity_beats_frequency(spark):
    """A ubiquitous token must never outrank a rare one, whatever its tf —
    the rarity-first contract that makes this a keyword extractor rather
    than a stopword lister."""
    rows = [(0, "the the the the quantum"), (1, "the cat"), (2, "the dog")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    top = {(r["doc_id"], r["term_rank"]): r["token"]
           for r in TX.doc_top_terms(docs, 2).collect()}
    assert top[(0, 1)] == "quantum"     # df=1 beats 'the' (df=3, tf=4)
    assert top[(0, 2)] == "the"


def test_strip_boilerplate_semantics(spark):
    """C4-style line removal: a line held by more than max_line_df docs
    drops everywhere (within-doc repeats count once toward df), order is
    preserved on reassembly, a fully-boilerplate doc keeps an empty
    clean_text, and an empty doc survives as its single empty line."""
    bp = "all rights reserved"
    rows = [
        (0, f"{bp}\nunique zero line\nmore zero"),
        (1, f"{bp}\nunique one line"),
        (2, f"unique two line\n{bp}"),
        (3, bp),
        (4, "repeated\nrepeated\nsolo"),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["n_lines"], r["n_lines_kept"], r["clean_text"])
           for r in TX.strip_boilerplate(docs, 2).collect()}
    assert out[0] == (3, 2, "unique zero line\nmore zero")
    assert out[1] == (2, 1, "unique one line")
    assert out[2] == (2, 1, "unique two line")
    assert out[3] == (1, 0, "")            # every line was boilerplate
    assert out[4] == (3, 3, "repeated\nrepeated\nsolo")
    assert out[5] == (1, 1, "")            # one empty line, df 1, kept
    freq = {r["line"]: r["line_df"] for r in TX.line_frequencies(docs).collect()}
    assert freq[bp] == 4 and freq["repeated"] == 1


def test_strip_boilerplate_matches_oracle(spark, tmp_path):
    """Cross-engine: Spark split/posexplode/array_sort reassembly must equal
    DuckDB string_split/generate_series/string_agg ORDER BY pos, including
    the empty-split convention (both engines give [''] for '')."""
    import duckdb
    bp = "cookie banner text"
    rows = [(i, f"{bp}\ndoc {i} body line\ntail {i * 3}") for i in range(5)]
    rows += [(10, "solo document\nwith lines"), (11, ""), (12, bp)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "lined_docs.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ldocs AS SELECT * FROM read_parquet('{path}/*.parquet')")
    got = _sorted_rows(TX.strip_boilerplate(docs, 3))
    exp = sorted(con.execute(TX.strip_boilerplate_sql("ldocs", 3)).fetchall())
    assert got == exp and got
    gotf = _sorted_rows(TX.line_frequencies(docs))
    expf = sorted(con.execute(TX.line_frequencies_sql("ldocs")).fetchall())
    assert gotf == expf


def test_strip_boilerplate_scans_source_twice(spark, sf_dir):
    """The strip must read the source exactly twice (line-df branch + line
    rows) — the flag-join single-groupBy shape; a third scan for a base
    table (the first implementation) or per-branch rescans would multiply
    the dominant cost at corpus scale."""
    pdocs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (TX.strip_boilerplate(pdocs, 3)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("FileScan parquet") == 2, plan


def test_exact_duplicates(spark, sf_dir, docs):
    got = _sorted_rows(D.exact_duplicates(docs))
    exp = sorted(_duck(sf_dir, D.exact_duplicates_sql("documents")))
    assert got == exp


def test_ngram_jaccard(spark, sf_dir, docs):
    got = _sorted_rows(D.ngram_jaccard_pairs(docs, threshold=(1, 4)))
    exp = sorted(_duck(sf_dir, D.ngram_jaccard_pairs_sql("documents", threshold=(1, 4))))
    assert got == exp


def test_ngram_jaccard_hot_shingle_cap(spark):
    """One ubiquitous shingle must not force every pair: capped runs return a
    subset of uncapped pairs, and docs related ONLY via the hot shingle drop."""
    common = "the terms of service apply"
    rows = [(i, f"{common} doc number {i} unique tail {i * 7}") for i in range(8)]
    rows += [(100, "alpha beta gamma delta epsilon"),
             (101, "alpha beta gamma delta zeta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {(r["a"], r["b"]) for r in
                D.ngram_jaccard_pairs(docs, threshold=(1, 10)).collect()}
    capped = {(r["a"], r["b"]) for r in
              D.ngram_jaccard_pairs(docs, threshold=(1, 10), max_doc_freq=4).collect()}
    assert capped <= uncapped
    assert (100, 101) in capped          # cool pair survives
    assert not any(a < 8 and b < 8 for a, b in capped)  # hot-only pairs gone
    assert any(a < 8 and b < 8 for a, b in uncapped)


def test_lsh_candidates(spark, sf_dir, docs):
    got = _sorted_rows(D.lsh_candidate_pairs(docs))
    exp = sorted(_duck(sf_dir, D.lsh_candidate_pairs_sql("documents")))
    assert got == exp


def test_simhash(spark, sf_dir, docs):
    got = _sorted_rows(D.simhash(docs))
    exp = sorted(_duck(sf_dir, D.simhash_sql("documents")))
    assert got == exp


def test_cosine_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 25 == 0)
    got = _sorted_rows(S.cosine_topk(emb, q, 5))
    exp = sorted(_duck(sf_dir, S.cosine_topk_sql("embeddings", "vec_id % 25 = 0", 5)))
    assert got == exp


def test_simhash_wide_matches_oracle(spark, sf_dir, docs):
    """The 60-bit token hash must agree cross-engine — the wide-signature
    path the 16-bit driver default never exercises (ADVICE r4): hashlib's
    md5[:15] in the Spark workers vs _tok_int60_sql's '0x' cast in DuckDB,
    folded through the full simhash bit-vote."""
    got = _sorted_rows(D.simhash(docs, bits=60))
    exp = sorted(_duck(sf_dir, D.simhash_sql("documents", bits=60)))
    assert got == exp and got


def test_simhash_near_pairs_equals_bruteforce(spark, sf_dir, docs):
    """Pigeonhole banding is EXACT, not approximate: with max_hamming + 1
    disjoint bands, two signatures within the budget must share a whole
    band, so the banded join + bit_count rescore equals the brute-force
    all-pairs Hamming filter (recall 1 by construction — pinned here at
    BOTH signature widths: the 16-bit oracle default and the 60-bit
    scale configuration)."""
    for bits, h in ((16, 2), (60, 3)):
        got = {(r["a"], r["b"])
               for r in D.simhash_near_pairs(docs, h, bits=bits).collect()}
        sigs = D.simhash(docs, bits=bits).collect()
        brute = {(min(x["id"], y["id"]), max(x["id"], y["id"]))
                 for i, x in enumerate(sigs) for y in sigs[i + 1:]
                 if bin(x["simhash"] ^ y["simhash"]).count("1") <= h}
        assert got == brute, (bits, h)
        assert got or bits == 60        # 16-bit corpus must collide; 60-bit may not


def test_simhash_near_pairs_computes_signatures_once(spark, sf_dir):
    """The banded self-join must NOT recompute the token aggregation per
    band per side: the signature table is checkpointed and exploded, so
    the plan holds zero parquet scans of the corpus (the former per-band
    unionAll plan held 6)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = D.simhash_near_pairs(docs, 2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "FileScan parquet" not in plan, plan


def test_near_dup_exact_vs_lsh(spark, sf_dir):
    """Embedding-cosine near-dup: the brute-force all-pairs oracle
    (near_dup_pairs_sql mode='exact' in DuckDB, over the same union) finds
    every injected duplicate; the LSH-bucketed Spark path returns a subset
    with usable recall."""
    from polycheck_spark.operators.similarity import near_dup_pairs
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pert = (F.concat(
        F.array((F.element_at(F.col("embedding"), 1) + F.lit(0.25)).cast("float")),
        F.slice(F.col("embedding"), 2, F.size(F.col("embedding")) - 1)))
    dups = (emb.filter(F.col("vec_id") % 50 == 0)
            .select((F.col("vec_id") + 100_000).alias("vec_id"),
                    pert.alias("embedding")))
    both = emb.select("vec_id", "embedding").unionByName(dups)
    n_injected = dups.count()
    exact = set(_duck(sf_dir, f"""
WITH both_ AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         [CAST(embedding[1] + 0.25 AS FLOAT)] || embedding[2:] AS embedding
  FROM embeddings WHERE vec_id % 50 = 0
)
SELECT a, b FROM ({S.near_dup_pairs_sql("both_", (3, 5), mode="exact")})"""))
    lsh = {(r["a"], r["b"]) for r in near_dup_pairs(both, (3, 5)).collect()}
    injected = {(r["vec_id"], r["vec_id"] + 100_000)
                for r in emb.filter(F.col("vec_id") % 50 == 0).collect()}
    assert injected <= exact                      # exact mode: recall 1
    assert lsh <= exact                           # lsh: subset of true pairs
    assert len(lsh & injected) >= 0.6 * n_injected  # usable recall


def test_near_dup_nondefault_planes_match_oracle(spark, sf_dir, monkeypatch):
    """near_dup_pairs grew an n_planes knob; the SQL twin must mirror it
    (ADVICE r4: an 8-plane oracle silently compared against an N-plane
    Spark run before) — pinned at a non-default count cross-engine."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = _sorted_rows(S.near_dup_pairs(emb, (3, 5), n_planes=5))
    monkeypatch.setattr(S, "N_PLANES", 5)
    exp = sorted(_duck(sf_dir, S.near_dup_pairs_sql(
        "embeddings", (3, 5), mode="lsh")))
    assert got == exp


def test_lsh_ann_plumbing_on_testdata(spark, sf_dir):
    """On unstructured random embeddings LSH recall is inherently weak; here
    we assert the pipeline shape: valid ranks, no self-matches, sane size."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").localCheckpoint()
    q = emb.filter(F.col("vec_id") % 50 == 0)
    rows = S.lsh_bucket_topk(emb, q, 5).collect()
    assert rows
    for r in rows:
        assert 1 <= r["rank"] <= 5
        assert r["query_id"] != r["target_id"]


def test_lsh_ann_recall_on_clustered_data(spark):
    """On clustered data (where ANN is meaningful) recall@5 must be high.

    40 clusters x 25 members; members of a cluster are tiny deterministic
    perturbations of a shared base vector, so true top-5 are in-cluster and
    land in the same LSH bucket."""
    n_clusters, per, dim = 40, 25, 16
    rows = []
    for c in range(n_clusters):
        base = [(((c * 31 + d * 17) % 97) - 48) / 48.0 for d in range(dim)]
        for m in range(per):
            vec = [base[d] + (((c * 7 + m * 13 + d * 3) % 11) - 5) / 500.0
                   for d in range(dim)]
            rows.append((c * per + m, [float(v) for v in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % per == 0)
    exact = {(r["query_id"], r["target_id"])
             for r in S.cosine_topk(emb, q, 5).collect()}
    approx = {(r["query_id"], r["target_id"])
              for r in S.lsh_bucket_topk(emb, q, 5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, recall
    # IVF-flat path on the same data: in-cluster members share the nearest
    # centroid, so probed lists contain the true neighbors
    ivf = {(r["query_id"], r["target_id"])
           for r in S.ivf_topk(emb, q, 5).collect()}
    ivf_recall = len(exact & ivf) / len(exact)
    assert ivf_recall >= 0.8, ivf_recall


def test_plane_weights_bitwise_equal():
    """The precomputed plane-weight matrix must be BIT-identical to DuckDB's
    md5 derivation in the oracles, and the fold bucketer's buckets equal
    the oracle's (buckets — and therefore oracle hashes — depend on exact
    sign boundaries)."""
    import struct
    dim = 16
    con = duckdb.connect()
    for p, row in enumerate(S._plane_weights(dim)):
        sql = (f"SELECT list({S._plane_component_sql(p, 'i')} ORDER BY i) "
               f"FROM range({dim}) t(i)")
        duck = con.execute(sql).fetchone()[0]
        assert ([struct.pack("<d", w) for w in row]
                == [struct.pack("<d", w) for w in duck]), p
    rows = [[((i * 13 + d * 7) % 29 - 14) / 14.0 for d in range(dim)]
            for i in range(64)]
    got = S._fold_buckets_np(np.array(rows), *S._lsh_planes(dim, S.N_PLANES))
    con.execute("CREATE TABLE v AS SELECT * FROM (VALUES "
                + ", ".join(f"({i}, {r}::DOUBLE[])" for i, r in enumerate(rows))
                + ") t(vec_id, embedding)")
    duck = [b for (b,) in con.execute(
        f"SELECT {S._bucket_sql('embedding')}::BIGINT FROM v ORDER BY vec_id"
    ).fetchall()]
    assert got.tolist() == duck
    assert len(set(duck)) > 8          # the rows spread over many buckets


def test_ivf_centroid_budget_bounded(spark):
    """Centroid count must stay ~budget as N grows 100x (the r2 scale-killer:
    a fixed modulus made it O(N)), and the assignment join must still
    broadcast the centroid table."""
    budget = S.IVF_CENTROID_BUDGET
    for n in (500, 50_000, 5_000_000):
        m = S._centroid_modulus(n, budget)
        n_cents = (n + m - 1) // m  # ids 0..n-1 with id % m == 0
        assert n_cents <= 2 * budget, (n, n_cents)
        if n >= budget:
            assert n_cents >= budget // 2, (n, n_cents)
    # plan check at two sizes: centroid side broadcast, count bounded
    dim = 8
    for n in (200, 2000):
        emb = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda d: (F.pmod(F.col("id") * 7 + d * 3, F.lit(19)) - 9.0) / 9.0
                        ).alias("embedding"))
        q = emb.filter(F.col("vec_id") % 97 == 0)
        out = S.ivf_topk(emb, q, 3)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # r8 shape: the budget-bounded centroid table is driver-collected
        # and assignment+rescore run in ONE fold-exact map pass — no join
        # of the vector relation at all (the former pin was a broadcast
        # centroid join; the bound that makes the collect safe is asserted
        # above either way)
        assert "MapInPandas" in plan
        for bad in ("SortMergeJoin", "CartesianProduct",
                    "BroadcastNestedLoopJoin"):
            assert bad not in plan, plan
        m = S._centroid_modulus(n, S.IVF_CENTROID_BUDGET)
        assert (n + m - 1) // m <= 2 * S.IVF_CENTROID_BUDGET
        assert out.count() > 0


def test_lsh_hot_band_cap(spark):
    """A degenerate corpus (hundreds of identical docs) must not produce
    quadratic candidates when the band cap is on: hot bands drop, cool
    near-dup pairs survive."""
    hot = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    rows = [(i, hot) for i in range(300)]
    rows += [(1000, "rare quick brown fox jumps over the lazy sleeping dog"),
             (1001, "rare quick brown fox jumps over the lazy sleeping dog")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {(r["a"], r["b"]) for r in
              D.lsh_candidate_pairs(docs, max_band_freq=4).collect()}
    assert capped == {(1000, 1001)}  # 300^2/2 hot pairs gone, cool pair kept


def test_near_dup_hot_bucket_cap(spark):
    """Same contract for the embedding path: a degenerate LSH bucket
    (hundreds of identical vectors) is dropped; a cool duplicate pair whose
    bucket population is under the cap survives."""
    dim = 8
    hot_vec = [1.0, -0.5, 0.25, 0.75, -1.0, 0.5, -0.25, 0.3]
    cool_vec = [-0.9, 0.8, -0.7, 0.6, -0.5, 0.4, -0.3, 0.2]
    rows = [(i, hot_vec) for i in range(300)]
    rows += [(1000, cool_vec), (1001, cool_vec)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    capped = {(r["a"], r["b"]) for r in
              S.near_dup_pairs(emb, (19, 20), dim=dim,
                               max_bucket_freq=4).collect()}
    assert capped == {(1000, 1001)}
    # uncapped on the cool slice alone agrees (sanity: cap is the only delta)
    cool = emb.filter(F.col("vec_id") >= 1000)
    uncapped_cool = {(r["a"], r["b"]) for r in
                     S.near_dup_pairs(cool, (19, 20), dim=dim).collect()}
    assert uncapped_cool == {(1000, 1001)}


def test_connected_components_vs_union_find(spark):
    """Min-label propagation == classic union-find on an adversarial mix:
    chain, clique, singleton, and two bridged clusters."""
    edges = [(1, 2), (2, 3), (3, 4),            # chain -> min 1
             (10, 11), (10, 12), (11, 12),      # clique -> min 10
             (20, 21), (22, 23), (21, 22),      # bridged pair of pairs -> 20
             (31, 30)]                          # reversed order edge -> 30
    verts = sorted({v for e in edges for v in e} | {99})  # 99 = singleton
    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    exp = sorted((v, min(u for u in verts if find(u) == find(v))) for v in verts)

    vdf = spark.createDataFrame([(v,) for v in verts], "id long")
    edf = spark.createDataFrame(edges, "a long, b long")
    got = sorted((r["id"], r["cluster_id"]) for r in
                 D.connected_components(vdf, edf).collect())
    assert got == exp


def test_decontaminate_flags_planted_docs(spark):
    """Planted contamination: docs carrying a benchmark n-gram flag, clean
    docs don't, sub-NGRAM docs report (0, 0, false) — and the eval join is
    a broadcast (the corpus side must never shuffle on shingles)."""
    bench = "what is the capital of france paris is the answer"
    corpus = [
        (0, bench),                                          # verbatim leak
        (1, "padding words " + bench + " more padding"),     # embedded leak
        (2, "an entirely different document about spark partitioning"),
        (3, "tiny doc"),                                     # < NGRAM tokens
        (4, "madrid is lovely in the spring season every year"),  # paris-free
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    ev = spark.createDataFrame([(100, bench)], "doc_id long, text string")
    out = D.decontaminate(docs, ev)
    got = {r["id"]: (r["n_shingles"], r["n_contaminated"], r["contaminated"])
           for r in out.collect()}
    assert got[0][2] and got[0][0] == got[0][1]      # fully contaminated
    assert got[1][2] and 0 < got[1][1] < got[1][0]   # partially contaminated
    assert not got[2][2] and got[2][1] == 0
    assert got[3] == (0, 0, False)
    assert not got[4][2]
    # DuckDB twin agrees row-for-row
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE TABLE c (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO c VALUES (?, ?)", corpus)
    con.execute("CREATE TABLE e (doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO e VALUES (100, ?)", [bench])
    exp = {r[0]: (r[1], r[2], r[3]) for r in
           con.execute(D.decontaminate_sql("c", "e")).fetchall()}
    assert got == exp
    # plan: the eval set rides a broadcast join
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_verified_clusters_reject_planted_lsh_false_positive(spark, sf_dir):
    """The verified fuzzy-dedup pipeline must NOT merge an LSH false
    positive: the planted pair collides on minhash band 0 (a real band
    collision, found by offline search) but has exact Jaccard 10/74 —
    raw-candidate CC merges the two docs, the verification stage keeps
    them apart, and every true (verified) pair still clusters together."""
    import __spark_entry__ as E
    corpus = E._docs_with_fp(spark, sf_dir).localCheckpoint()
    fa, fb = E.VERIFIED_FP_IDS

    cand_df = D.lsh_candidate_pairs(corpus)
    cand = {(r["a"], r["b"]) for r in cand_df.collect()}
    assert (fa, fb) in cand, "planted band collision must be a candidate"

    verified = {(r["a"], r["b"]) for r in
                D.verify_pairs_jaccard(corpus, cand_df, (1, 2)).collect()}
    assert (fa, fb) not in verified
    assert verified and verified < cand

    edf = spark.createDataFrame(sorted(cand), "a long, b long")
    raw = {r["id"]: r["cluster_id"] for r in
           D.connected_components(corpus.select(F.col("doc_id").alias("id")),
                                  edf).collect()}
    ver = {r["id"]: r["cluster_id"] for r in
           D.verified_dup_clusters(corpus, (1, 2)).collect()}
    assert raw[fa] == raw[fb], "raw CC merges the false positive"
    assert ver[fa] != ver[fb], "verification keeps them apart"
    # verification strictly increases the cluster count (the bite)
    assert len(set(ver.values())) > len(set(raw.values()))
    # and every surviving true pair still ends up co-clustered
    for x, y in verified:
        assert ver[x] == ver[y]


def test_cluster_assignments_equals_full_vertex_cc(spark):
    """Endpoint-only CC + singleton anti-join must equal full-vertex CC:
    the scale path may never change the labeling."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)]
    verts = sorted({v for e in edges for v in e} | {5, 99, 100})
    vdf = spark.createDataFrame([(v,) for v in verts], "id long")
    edf = spark.createDataFrame(edges, "a long, b long")
    full = sorted((r["id"], r["cluster_id"]) for r in
                  D.connected_components(vdf, edf).collect())
    fast = sorted((r["id"], r["cluster_id"]) for r in
                  D.cluster_assignments(vdf, edf).collect())
    assert full == fast
    # edgeless graph: everything a singleton, no propagation rounds at all
    empty = spark.createDataFrame([], "a long, b long")
    only_singles = sorted((r["id"], r["cluster_id"]) for r in
                          D.cluster_assignments(vdf, empty).collect())
    assert only_singles == [(v, v) for v in verts]


def test_connected_components_long_chain_converges_logarithmically(spark, monkeypatch):
    """A 64-vertex path has diameter 63: pure hash-to-min would need 63
    rounds, so finishing under CC_MAX_ITERS=10 proves the pointer-jumping
    acceleration actually doubles label reach per round."""
    n = 64
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a long, b long")
    monkeypatch.setattr(D, "CC_MAX_ITERS", 10)
    got = {(r["id"], r["cluster_id"]) for r in
           D.connected_components(verts, edges).collect()}
    assert got == {(i, 0) for i in range(n)}


def test_connected_components_warns_when_not_converged(spark, monkeypatch):
    """Exhausting CC_MAX_ITERS with labels still moving must WARN, not return
    partially-propagated labels silently (ADVICE r3): one round on a long
    path cannot reach the fixpoint."""
    import warnings
    n = 40
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a long, b long")
    monkeypatch.setattr(D, "CC_MAX_ITERS", 1)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        D.connected_components(verts, edges).collect()
    assert any("convergence unverified" in str(w.message) for w in caught), \
        [str(w.message) for w in caught]


def test_connected_components_no_spurious_warning_at_exact_iters(spark, monkeypatch):
    """Exactly-sufficient CC_MAX_ITERS (the final round reaches the fixpoint)
    must NOT warn: the post-loop change probe distinguishes 'last round
    still converging' from 'genuinely unconverged' (ADVICE r4)."""
    import warnings
    n = 9
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a long, b long")
    exp = {(i, 0) for i in range(n)}
    for k in range(1, 12):
        monkeypatch.setattr(D, "CC_MAX_ITERS", k)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            got = {(r["id"], r["cluster_id"]) for r in
                   D.connected_components(verts, edges).collect()}
        if got == exp:
            # the smallest sufficient k: its last round changed labels, so
            # the loop exhausted — only the probe can clear the warning
            assert not any("convergence unverified" in str(w.message)
                           for w in caught), [str(w.message) for w in caught]
            break
    else:
        pytest.fail("chain never converged within 11 rounds")


def test_quantized_topk_recall_and_zero_vector(spark):
    """int8 re-rank: near-exact recall on clustered data (quantization noise
    only perturbs the stage-1 ORDER, and m >> k absorbs it), and the
    all-zero vector quantizes to zeros instead of dividing by zero."""
    n_clusters, per, dim = 20, 25, 16
    rows = []
    for c in range(n_clusters):
        base = [(((c * 31 + d * 17) % 97) - 48) / 48.0 for d in range(dim)]
        for m in range(per):
            vec = [base[d] + (((c * 7 + m * 13 + d * 3) % 11) - 5) / 500.0
                   for d in range(dim)]
            rows.append((c * per + m, [float(v) for v in vec]))
    rows.append((9000, [0.0] * dim))  # zero vector: must not crash stage 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter((F.col("vec_id") % per == 0) & (F.col("vec_id") < 9000))
    exact = {(r["query_id"], r["target_id"])
             for r in S.cosine_topk(emb, q, 5).collect()}
    quant = {(r["query_id"], r["target_id"])
             for r in S.quantized_topk(emb, q, 5).collect()}
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.95, recall


def test_ann_outputs_have_no_duplicate_pairs(spark, sf_dir):
    """The bucketed ANN paths dropped their distinct on the claim that each
    (query, target) pair joins at most once (one exact bucket/list per
    target, pairwise-distinct probe keys). Pin that invariant — a
    violation would silently duplicate output rows in BOTH engines, so the
    oracle differential alone cannot catch it."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").localCheckpoint()
    q = emb.filter(F.col("vec_id") % 25 == 0)
    for df, keys in ((S.lsh_bucket_topk(emb, q, 5), ("query_id", "target_id")),
                     (S.ivf_topk(emb, q, 5), ("query_id", "target_id")),
                     (S.quantized_topk(emb, q, 5), ("query_id", "target_id")),
                     (S.near_dup_pairs(emb, (3, 5)), ("a", "b"))):
        rows = [tuple(r[k] for k in keys) for r in df.select(*keys).collect()]
        assert len(rows) == len(set(rows)), keys


def _zero_vector_topk_vs_duckdb(spark, sf_dir, fn, sql):
    """A zero vector among both targets and queries takes the zero-norm
    guard (cosine 0.0) in Spark and in DuckDB's _cos_sql alike, so the
    ranks of ``fn`` equal its SQL twin ``sql`` exactly."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    zero = spark.createDataFrame([(777_000, [0.0] * dim)],
                                 "vec_id long, embedding array<double>")
    both = emb.select("vec_id", F.col("embedding").cast("array<double>")
                      .alias("embedding")).unionByName(zero)
    q = both.filter(F.col("vec_id") % 50 == 0)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW emb_zero AS SELECT vec_id, CAST(embedding AS DOUBLE[]) "
        f"AS embedding FROM read_parquet('{sf_dir}/embeddings.parquet') "
        f"UNION ALL SELECT 777000, [{', '.join(['0.0'] * dim)}]::DOUBLE[]")
    got = _sorted_rows(fn(both, q, 5))
    exp = sorted(con.execute(sql("emb_zero", "vec_id % 50 = 0", 5)).fetchall())
    assert got == exp
    assert any(r[0] == 777_000 for r in got)


def test_cosine_topk_zero_vector_matches_duckdb(spark, sf_dir):
    _zero_vector_topk_vs_duckdb(spark, sf_dir, S.cosine_topk, S.cosine_topk_sql)


def test_quantized_topk_zero_vector_matches_duckdb(spark, sf_dir):
    """Scale 0 in the int8 stage keeps the zero vector's cosine at 0.0."""
    _zero_vector_topk_vs_duckdb(spark, sf_dir, S.quantized_topk,
                                S.quantized_topk_sql)


def test_ann_empty_query_set(spark, sf_dir):
    """A filter matching no queries must yield an empty frame with the
    (query_id, target_id, rank) schema from every top-k path — not raise
    (ADVICE r3)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    none = emb.filter(F.col("vec_id") < 0)
    for fn in (S.cosine_topk, S.lsh_bucket_topk, S.quantized_topk, S.ivf_topk):
        out = fn(emb, none, 5)
        assert out.columns == ["query_id", "target_id", "rank"], fn.__name__
        assert out.count() == 0, fn.__name__


def test_repetition_signals_planted_cases(spark):
    rows = [
        # doc 1: 3 lines, "same" twice -> 1 NON-FIRST dup instance (Gopher
        # freq-1 counting), 4 dup chars; top bigram "a b" appears twice
        (1, "same\na b c a b\nsame"),
        # doc 2: no repetition anywhere
        (2, "one\ntwo three four"),
        # doc 3: heavy line repetition -> repetitive flag fires
        (3, "x y\nx y\nx y\nx y"),
        # doc 4: single token, no bigrams at all
        (4, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in TX.repetition_signals(df).collect()}
    r1 = got[1]
    assert (r1["n_lines"], r1["n_dup_lines"], r1["dup_line_chars"]) == (3, 1, 4)
    # 1 of 3 lines is a non-first duplicate -> the 30% line gate fires
    assert r1["top_bigram_count"] == 2 and r1["repetitive"]
    r2 = got[2]
    assert r2["n_dup_lines"] == 0 and r2["top_bigram_count"] == 1
    assert not r2["repetitive"]
    r3 = got[3]
    assert (r3["n_lines"], r3["n_dup_lines"]) == (4, 3) and r3["repetitive"]
    # "x y" the bigram only exists within lines (newline breaks token
    # adjacency? no — tokens_col splits on ALL whitespace incl. newline,
    # so "y x" cross-line bigrams exist too); top is "x y" with 4
    assert r3["top_bigram_count"] == 4
    r4 = got[4]
    assert (r4["n_bigrams"], r4["top_bigram_count"]) == (0, 0)


def test_repetition_signals_plan_is_python_free(spark):
    df = spark.createDataFrame([(1, "a b\na b")], "doc_id long, text string")
    plan = TX.repetition_signals(df)._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, marker

def test_incremental_dedup_statuses(spark):
    new = spark.createDataFrame(
        [(10, "seen before"), (11, "fresh one"), (12, "fresh two"),
         (13, "fresh two"), (14, "fresh two"), (15, "seen before")],
        "doc_id long, text string")
    seen = spark.createDataFrame(
        [("seen before",), ("other old",)], "text string") \
        .select(F.md5("text").alias("digest"))
    got = {r["doc_id"]: r["status"] for r in
           D.incremental_dedup(new, seen).collect()}
    assert got == {10: "dup_of_corpus", 11: "new", 12: "new",
                   13: "dup_in_batch", 14: "dup_in_batch",
                   15: "dup_of_corpus"}


def test_incremental_dedup_empty_index_admits_first_only(spark):
    new = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")],
                                "doc_id long, text string")
    seen = spark.createDataFrame([], "digest string")
    got = {r["doc_id"]: r["status"] for r in
           D.incremental_dedup(new, seen).collect()}
    assert got == {1: "new", 2: "dup_in_batch", 3: "new"}

def test_search_topk_rarity_weighting_and_ties(spark):
    rows = [
        (1, "rare common common common"),     # tf(rare)=1, tf(common)=3
        (2, "common common common common"),   # tf(common)=4
        (3, "rare rare other"),               # tf(rare)=2
        (4, "nothing relevant here"),
        (5, "common"),                        # ties with nothing below it
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["doc_id"], r["score"]) for r in
           TX.search_topk(docs, ["rare", "common"], 4).collect()]
    w_rare = TX.IDF_SCALE // 2    # df(rare)=2
    w_common = TX.IDF_SCALE // 3  # df(common)=3
    exp = sorted([(1, w_rare + 3 * w_common), (2, 4 * w_common),
                  (3, 2 * w_rare), (5, w_common)],
                 key=lambda x: (-x[1], x[0]))[:4]
    assert got == exp
    assert [d for d, _ in got] == [1, 2, 3, 5]
    # rarity weighting: doc 3's two rare hits outscore doc 5's common hit 3x
    assert dict(got)[3] == 3 * dict(got)[5] + 1  # 2*(S//2) vs S//3, S=10^9


def test_search_topk_absent_term_is_ignored(spark):
    docs = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    got = [(r["doc_id"], r["score"]) for r in
           TX.search_topk(docs, ["alpha", "zzz_missing"], 5).collect()]
    assert got == [(1, TX.IDF_SCALE)]


def test_line_dedup_corpus_semantics(spark):
    """Keep-first-occurrence rule: later repeats vanish, empty lines are
    kept verbatim everywhere, fully-deduped docs keep empty text."""
    from polycheck_spark.operators.dedup import line_dedup_corpus
    docs = spark.createDataFrame(
        [(1, "a\nb\n"), (2, "b\nc"), (3, "a\na\n")],
        "doc_id long, text string")
    out = {r.doc_id: (r.n_lines, r.n_lines_kept, r.clean_text)
           for r in line_dedup_corpus(docs).collect()}
    assert out[1] == (3, 3, "a\nb\n")   # all first occurrences + empty kept
    assert out[2] == (2, 1, "c")        # 'b' already in doc 1
    assert out[3] == (3, 1, "")         # both 'a's repeat; empty line kept
    # contrast with strip_boilerplate: that would drop ALL copies of a hot
    # line; here exactly one global copy survives (doc 1 retains 'a', 'b')


def test_line_dedup_corpus_matches_duckdb(spark, tmp_path):
    from polycheck_spark.operators.dedup import (line_dedup_corpus,
                                                 line_dedup_corpus_sql)
    import duckdb
    # 60 docs, heavy cross-doc line overlap (every line drawn from 12)
    docs = spark.range(60).selectExpr(
        "id AS doc_id",
        "concat_ws(chr(10), 'line' || CAST(id % 12 AS STRING), "
        "'line' || CAST((id * 7) % 12 AS STRING), "
        "CASE WHEN id % 5 = 0 THEN '' ELSE 'u' || CAST(id AS STRING) END) AS text")
    p = str(tmp_path / "docs.parquet")
    docs.write.parquet(p)
    got = sorted(map(tuple, line_dedup_corpus(docs)
                     .select("doc_id", "n_lines", "n_lines_kept",
                             "clean_text").collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{p}/*.parquet')")
    want = sorted(map(tuple, con.execute(line_dedup_corpus_sql("t")).fetchall()))
    con.close()
    assert got == want


def test_lang_temperature_sample(spark):
    """Strata with isqrt(n) <= num/den are kept whole; membership is a pure
    key function (partition-invariant); isqrt correction is exact."""
    import math
    from polycheck_spark.operators.sampling import (lang_temperature_sample,
                                                    _isqrt_cols)
    from pyspark.sql import functions as F
    # 900 'big' rows (isqrt=30) + 9 'small' rows (isqrt=3)
    df = spark.range(909).selectExpr(
        "id AS k", "CASE WHEN id < 900 THEN 'big' ELSE 'small' END AS st")
    out = lang_temperature_sample(df, "k", "st", (4, 1))
    by = {r.st: r.c for r in out.groupBy("st").agg(
        F.count("*").alias("c")).collect()}
    assert by.get("small") == 9              # 4 >= 1*3: kept whole
    assert 0 < by["big"] < 900               # 4/30: genuinely downsampled
    # partition invariance
    again = lang_temperature_sample(df.repartition(7), "k", "st", (4, 1))
    assert sorted(r.k for r in out.collect()) == \
        sorted(r.k for r in again.collect())
    # exact isqrt across perfect-square boundaries and large values
    ns = [0, 1, 2, 3, 4, 8, 9, 10, 9999999999999998, 10**12, 10**12 + 1]
    probe = spark.createDataFrame([(n,) for n in ns], "n long") \
        .select("n", _isqrt_cols(F.col("n")).alias("s"))
    for r in probe.collect():
        assert r.s == math.isqrt(r.n), (r.n, r.s)


def test_duplicate_span_dedup_semantics(spark):
    """Keep-first rule at window granularity: the smallest (id, p)
    occurrence survives, shifted repeats are cut, self-repeats keep one
    copy, overlapping windows merge to ONE span, short docs pass through."""
    from polycheck_spark.operators.dedup import duplicate_span_dedup
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota tail"),
         (1, "pre alpha beta gamma delta epsilon zeta eta theta iota post"),
         (2, "tiny doc"),
         (3, "a b c d e f g h a b c d e f g h a b c d e f g h")],
        "doc_id long, text string")
    out = {r.doc_id: (r.n_tokens, r.n_dup_spans, r.n_dup_tokens, r.clean_text)
           for r in duplicate_span_dedup(docs).collect()}
    assert out[0] == (10, 0, 0,
                      "alpha beta gamma delta epsilon zeta eta theta iota tail")
    # doc 1: the 9 shared tokens (three overlapping dup windows -> 1 span)
    assert out[1] == (11, 1, 9, "pre post")
    assert out[2] == (2, 0, 0, "tiny doc")
    # doc 3: windows at p=8..16 repeat p=0..; one merged span of 16 tokens
    assert out[3] == (24, 1, 16, "a b c d e f g h")


def test_duplicate_span_dedup_matches_duckdb(spark, tmp_path):
    from polycheck_spark.operators.dedup import (duplicate_span_dedup,
                                                 duplicate_span_dedup_sql)
    import duckdb
    # 80 docs of 20 tokens drawn from a 9-word vocabulary with per-doc
    # phase: dense cross-doc 8-gram overlap plus organic self-repeats
    docs = spark.range(80).selectExpr(
        "id AS doc_id",
        "array_join(transform(sequence(0, 19), "
        "  i -> element_at(array('w0','w1','w2','w3','w4','w5','w6','w7','w8'),"
        "       CAST((i * (1 + id % 3) + id % 7) % 9 AS INT) + 1)), ' ') AS text")
    pdf = docs.toPandas()
    got = sorted(map(tuple, duplicate_span_dedup(docs).collect()))
    con = duckdb.connect()
    con.register("t", pdf)
    want = sorted(map(tuple, con.execute(duplicate_span_dedup_sql("t")).fetchall()))
    con.close()
    assert got == want
    assert any(r[2] > 0 for r in got)  # the corpus really has dup spans


def test_oov_stats_cut_and_zero_docs(spark):
    """Vocabulary cut by (occurrences desc, token asc); OOV counts are
    instance counts; zero-token docs keep 0/0."""
    docs = spark.createDataFrame(
        [(1, "aa aa aa bb bb cc"),   # occ: aa=3(+1 below)=4, bb=2(+1)=3, cc=1(+1)=2
         (2, "aa bb cc dd"),         # dd occ 1: below the V=3 cut
         (3, "")],                   # zero tokens
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           TX.oov_stats(docs, vocab_size=3).collect()}
    # vocab = {aa, bb, cc}; dd is OOV
    assert out[1].n_tokens == 6 and out[1].n_oov == 0
    assert out[2].n_tokens == 4 and out[2].n_oov == 1
    assert out[3].n_tokens == 0 and out[3].n_oov == 0
    # tie at the cut resolves by token asc: with V=2, cc (occ 2) loses to
    # nothing — but with occ ties (bb=3 unique here) ordering is total
    out2 = {r.doc_id: r for r in
            TX.oov_stats(docs, vocab_size=2).collect()}
    assert out2[1].n_oov == 1 and out2[2].n_oov == 2   # cc + dd now OOV


def test_quality_classify_margins_and_fallback(spark):
    from polycheck_spark.operators.text import (
        quality_classify, QUALITY_WEIGHTS)
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat", "en"),
         (2, "the cat sat on the mat", "xx"),   # unseen lang -> '*' row
         (3, "", "en")],
        "doc_id long, text string, lang string")
    got = {r["doc_id"]: r for r in quality_classify(docs).collect()}
    # doc 1 (en): n_chars=22, n_tokens=6, stop_hits counted off the same
    # STOPWORDS list the operator uses
    from polycheck_spark.operators.text import STOPWORDS
    hits = sum(1 for t in "the cat sat on the mat".split()
               if t in STOPWORDS["en"])
    w = {r[0]: r[1:] for r in QUALITY_WEIGHTS}
    en = w["en"]; fb = w["*"]
    assert got[1]["margin"] == en[0]*22 + en[1]*6 + en[2]*hits + en[3]
    assert got[2]["margin"] == fb[0]*22 + fb[1]*6 + fb[2]*hits + fb[3]
    assert got[3]["margin"] == w["en"][3] and got[3]["keep"] is False
    assert got[1]["keep"] == (got[1]["margin"] > 0)


def test_quality_classify_plan_broadcast_no_doc_shuffle(spark):
    """The weight table must broadcast and the corpus must never be
    shuffled: the only acceptable exchanges are broadcast exchanges."""
    from polycheck_spark.operators.text import quality_classify
    docs = spark.range(2000).selectExpr(
        "id AS doc_id", "concat('the cat ', CAST(id AS STRING)) AS text",
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'xx' END AS lang")
    q = quality_classify(docs)._jdf.queryExecution()
    plan = q.executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "Broadcast" in line, line   # no hash/range repartition
    # the corpus is scanned ONCE and joined ONCE (the weight table): the
    # lang column rides the feature projection, never a corpus self-join
    opt = q.optimizedPlan().toString()
    assert opt.count("Range (0, 2000") == 1, opt
    assert plan.count("Join") == plan.count("BroadcastHashJoin") == 1, plan
