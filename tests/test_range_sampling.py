"""Range join and deterministic sampling operators."""

import pytest
from pyspark.sql import functions as F

from polycheck_spark.operators import sampling as SA
from polycheck_spark.operators.range_join import range_join, res_for_radius


def _brute_pairs(rows, radius):
    out = set()
    for qid, qx, qy in rows:
        for tid, tx, ty in rows:
            if qid != tid and (qx - tx) ** 2 + (qy - ty) ** 2 <= radius * radius:
                out.add((qid, tid))
    return out


def test_range_join_matches_brute_force(spark):
    """Grid + jitter points straddling cell boundaries at several radii —
    the 3x3 cover at res_for_radius must lose nothing vs brute force."""
    rows = []
    i = 0
    for gx in range(-6, 7, 3):
        for gy in range(-6, 7, 3):
            for jx, jy in ((0.0, 0.0), (1.49, 0.0), (0.0, -1.49), (1.1, 1.1)):
                rows.append((i, float(gx * 10 + jx), float(gy * 10 + jy)))
                i += 1
    df = spark.createDataFrame(rows, "doc_id long, lon double, lat double")
    for radius in (1.2, 3.0, 11.0):
        got = {(r["query_id"], r["target_id"]) for r in
               range_join(df, df, radius,
                          query_id="doc_id", target_id="doc_id").collect()}
        assert got == _brute_pairs(rows, radius), radius


def test_range_join_plan_is_equi_join(spark):
    """The physical plan must be a hash equi-join on cell_id — never a
    cartesian/broadcast-nested-loop product."""
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 37, F.lit(360)) - 180.0).alias("lon"),
        (F.pmod(F.col("id") * 53, F.lit(180)) - 90.0).alias("lat"))
    q = df.filter(F.col("doc_id") % 10 == 0)
    out = range_join(q, df, 5.0, query_id="doc_id", target_id="doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cell_id" in plan


def test_res_for_radius_covers():
    import math
    for radius in (0.01, 0.5, 2.0, 45.0, 200.0):
        res = res_for_radius(radius)
        assert 180.0 / (1 << res) >= radius or res == 0
        if res + 1 <= 28 and radius <= 180.0:
            assert 180.0 / (1 << (res + 1)) < radius  # coarsest such res


def test_sample_hash_is_deterministic_and_partition_invariant(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {r["doc_id"] for r in SA.sample_hash(docs, "doc_id", (3, 10)).collect()}
    b = {r["doc_id"] for r in
         SA.sample_hash(docs.repartition(17, "lang"), "doc_id", (3, 10)).collect()}
    assert a == b and a
    n = docs.count()
    assert 0.2 * n < len(a) < 0.4 * n          # ~30% +- slack


def test_stratified_sample_rates(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"en": (1, 5), "zh": (1, 2)}
    out = SA.stratified_sample(docs, "doc_id", "lang", rates,
                               default_rate=(1, 1))
    got = out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    full = {x["lang"]: x["n"] for x in
            docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for row in got:
        lang, n = row["lang"], row["n"]
        num, den = rates.get(lang, (1, 1))
        expect = full[lang] * num / den
        if (num, den) == (1, 1):
            assert n == full[lang]              # untouched strata exact
        else:
            assert abs(n - expect) <= max(6, 0.5 * expect), (lang, n, expect)
    # sample is a true subset
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert ids <= all_ids


def test_sample_hash_rejects_bad_rate(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError):
        SA.sample_hash(docs, "doc_id", (11, 10))


def test_sampling_sql_escapes_quotes(spark, tmp_path):
    """A stratum value containing a single quote must produce a
    working, semantically-identical oracle query (ADVICE r3: the emitters
    interpolated them unescaped while the Spark path handled them fine)."""
    import duckdb
    rows = [(i, "it's" if i % 3 == 0 else "l'autre") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    path = str(tmp_path / "qdocs.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW qdocs AS SELECT * FROM read_parquet('{path}/*.parquet')")

    spark_ids = {r["doc_id"] for r in
                 SA.sample_hash(docs, "doc_id", (3, 10)).collect()}
    duck_ids = {r[0] for r in con.execute(
        SA.sample_hash_sql("qdocs", "doc_id", (3, 10))).fetchall()}
    assert spark_ids == duck_ids and spark_ids

    rates = {"it's": (1, 2), "l'autre": (1, 3)}
    spark_ids = {r["doc_id"] for r in
                 SA.stratified_sample(docs, "doc_id", "lang", rates,
                                      default_rate=(1, 1)).collect()}
    duck_ids = {r[0] for r in con.execute(
        SA.stratified_sample_sql("qdocs", "doc_id", "lang", rates,
                                 default_rate=(1, 1))).fetchall()}
    assert spark_ids == duck_ids and spark_ids


def test_sampling_plans_have_no_shuffle(spark, sf_dir):
    """Both samplers must stay pure map-side filters — zero exchanges."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (SA.sample_hash(docs, "doc_id", (3, 10)),
               SA.stratified_sample(docs, "doc_id", "lang",
                                    {"en": (1, 5)}, default_rate=(1, 1))):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Scan parquet" in plan


def test_top_fraction_per_stratum(spark):
    """rank*den <= n*num selection: exact counts per stratum, descending
    score, deterministic doc-id tie-break, small-stratum floor to zero."""
    from polycheck_spark.operators.sampling import top_fraction_per_stratum
    rows = ([(i, "a", i % 7) for i in range(20)]      # n=20, keep floor(6)
            + [(100 + i, "b", 5) for i in range(3)])  # n=3, ties, keep 0
    df = spark.createDataFrame(rows, "k long, st string, score long")
    out = top_fraction_per_stratum(df, "st", "score", (3, 10), tie_col="k")
    got = sorted((r.st, r.k) for r in out.collect())
    # stratum a: scores cycle 0..6; top-6 = the six highest (score, -k)
    want_a = sorted(
        ((i % 7), -i, i) for i in range(20))[-6:]
    assert got == sorted([("a", k) for (_, _, k) in want_a])
    # rate (1,1) keeps everything; (0,1) keeps nothing
    assert top_fraction_per_stratum(df, "st", "score", (1, 1),
                                    tie_col="k").count() == 23
    assert top_fraction_per_stratum(df, "st", "score", (0, 1),
                                    tie_col="k").count() == 0


def test_sample_exact_k_counts(spark):
    from polycheck_spark.operators.sampling import sample_exact_k
    df = spark.range(1000).selectExpr(
        "id AS doc_id", "CAST(id % 7 AS STRING) AS lang")
    out = sample_exact_k(df, "doc_id", "lang", 25)
    counts = {r.lang: r.n for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert all(v == 25 for v in counts.values()) and len(counts) == 7
    # a stratum smaller than k keeps ALL its rows
    small = df.filter("lang != '0' OR doc_id < 70")  # lang 0 has 10 rows
    out_small = sample_exact_k(small, "doc_id", "lang", 25)
    n0 = out_small.filter("lang = '0'").count()
    assert n0 == 10
    import pytest as _pt
    with _pt.raises(ValueError, match="k must"):
        sample_exact_k(df, "doc_id", "lang", 0)
