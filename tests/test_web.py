"""URL canonicalization / url-dedup / host-stats operators vs DuckDB twins."""

import duckdb
from pyspark.sql import functions as F

from polycheck_spark.operators import web as W


def test_canonical_url_goldens(spark):
    cases = [
        ("http://www.Example.COM/Path/page?utm=1#frag", "example.com/Path/page"),
        ("https://example.com/Path/page", "example.com/Path/page"),
        ("http://EXAMPLE.com/Path/page/", "example.com/Path/page"),
        ("https://www.example.com/Path/page///", "example.com/Path/page"),
        ("example.com/a", "example.com/a"),          # schemeless passthrough
        ("http://example.com", "example.com"),        # bare host
        ("http://example.com/?q=1", "example.com"),   # root + query
        ("http://wwwx.example.com/a", "wwwx.example.com/a"),  # www. only as prefix+dot
        ("http://example.com/CaseKeptPath", "example.com/CaseKeptPath"),
        # query/fragment on a path-less URL must not leak into the host
        ("http://Example.com?utm=1", "example.com"),
        ("http://example.com#frag", "example.com"),
        # '://' inside a query param: split at the FIRST occurrence
        ("http://example.com/r?to=https://other.com/x", "example.com/r"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i int, url string")
    got = {r["i"]: r["c"] for r in
           df.select("i", W.canonical_url_col(F.col("url")).alias("c")).collect()}
    for i, (_, expected) in enumerate(cases):
        assert got[i] == expected, (cases[i], got[i])
    # cross-engine: identical canonical forms from the SQL twin
    con = duckdb.connect()
    rows = ", ".join(f"({i}, '{u}')" for i, (u, _) in enumerate(cases))
    exp = dict(con.execute(
        f"SELECT i, {W.canonical_url_sql('url')} FROM (VALUES {rows}) t(i, url)"
    ).fetchall())
    assert got == exp


def test_html_extract_goldens(spark):
    cases = [
        ("<html><body><p>Hello  world</p></body></html>", "Hello world"),
        ("<p>a &amp; b &lt; c &gt; d &quot;e&quot; &#39;f&#39;</p>",
         "a & b < c > d \"e\" 'f'"),
        ("<script>var x = '<p>no</p>';</script>after", "after"),
        ("<STYLE media='all'>p { color: red }</STYLE>visible", "visible"),
        ("<!-- <p>commented out</p> -->kept", "kept"),
        ("one&nbsp;space", "one space"),
        ("&amp;lt; decodes one level", "&lt; decodes one level"),
        ("no markup at all", "no markup at all"),
        ("", ""),
    ]
    df = spark.createDataFrame([(i, h) for i, (h, _) in enumerate(cases)],
                               "i int, html string")
    got = {r["i"]: r["t"] for r in
           df.select("i", W.html_to_text_col(F.col("html")).alias("t")).collect()}
    for i, (_, expected) in enumerate(cases):
        assert got[i] == expected, (cases[i], got[i])
    # cross-engine: the SQL twin extracts identical bytes
    con = duckdb.connect()
    rows = ", ".join("({}, '{}')".format(i, h.replace("'", "''"))
                     for i, (h, _) in enumerate(cases))
    exp = dict(con.execute(
        f"SELECT i, {W.html_to_text_sql('html')} FROM (VALUES {rows}) t(i, html)"
    ).fetchall())
    assert got == exp


def test_html_extract_byte_identity_through_pipeline(spark, sf_dir):
    """North-rule invariant: the text extracted from html stays
    BYTE-IDENTICAL per document through the downstream cleaning stages —
    including boilerplate-strip, which fully REBUILDS the text from its
    split lines — and the exact-dedup digest is computed over those same
    bytes."""
    import __spark_entry__ as E
    from polycheck_spark.operators.text import strip_boilerplate

    pages = (E._docs(spark, sf_dir).select("doc_id", "text")
             .withColumn("html", E._synth_html_col()))
    extracted = pages.select(
        "doc_id", W.html_to_text_col(F.col("html")).alias("text"),
        # the template makes the expected extraction reconstructible:
        # title + h1 + whitespace-normalized body text
        F.trim(F.concat(
            F.lit("Doc "), F.col("doc_id").cast("string"),
            F.lit(" Doc "), F.col("doc_id").cast("string"), F.lit(" "),
            F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))))
        .alias("expected")).localCheckpoint()
    assert extracted.filter(F.col("text") != F.col("expected")).count() == 0

    # clean stage rebuilds text from lines; with no hot lines (cap above
    # corpus size) the rebuild must be byte-exact for every doc
    n = extracted.count()
    cleaned = strip_boilerplate(extracted.select("doc_id", "text"),
                                max_line_df=n + 1)
    joined = (extracted.join(cleaned, "doc_id")
              .select(F.md5("text").alias("h0"), F.md5("clean_text").alias("h1")))
    assert joined.filter(F.col("h0") != F.col("h1")).count() == 0

    # dedup digests ride the identical bytes: survivor count is stable
    # whether computed on the extracted or the cleaned text
    from polycheck_spark.operators.dedup import exact_duplicates
    d0 = exact_duplicates(extracted.select("doc_id", "text")).count()
    d1 = exact_duplicates(
        cleaned.select("doc_id", F.col("clean_text").alias("text"))).count()
    assert d0 == d1


def test_url_dedup_and_host_stats_match_oracle(spark, tmp_path):
    rows = []
    for i in range(200):
        scheme = "https://" if i % 3 == 0 else "http://"
        host = ["www.sitea.com", "WWW.SITEA.COM", "sitea.com",
                "siteb.org"][i % 4]
        q = f"?ref={i % 5}" if i % 2 == 0 else ""
        rows.append((i, f"{scheme}{host}/p/{i % 9}{q}"))
    pages = spark.createDataFrame(rows, "doc_id long, url string")
    path = str(tmp_path / "urls.parquet")
    pages.coalesce(1).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW urls AS SELECT * FROM read_parquet('{path}/*.parquet')")

    got = sorted(tuple(r) for r in W.url_dedup_groups(pages).collect())
    exp = sorted(con.execute(W.url_dedup_groups_sql("urls")).fetchall())
    assert got == exp and got
    # the three sitea spellings collapse: each (path) group holds variants
    assert any(g[0].startswith("sitea.com/") and g[1] >= 10 for g in got)

    goth = sorted(tuple(r) for r in W.host_stats(pages).collect())
    exph = sorted(con.execute(W.host_stats_sql("urls")).fetchall())
    assert goth == exph
    hosts = {h for h, _, _ in goth}
    assert hosts == {"sitea.com", "siteb.org"}
    for _, n_fetches, n_canonical in goth:
        assert n_canonical <= n_fetches


_SUFFIX_ROWS = [(1, "http://blocked.com/a"),          # exact -> dropped
                (2, "http://www.BLOCKED.com/b"),      # www/case -> dropped
                (3, "http://deep.sub.blocked.com/c"), # any depth -> dropped
                (4, "http://notblocked.com/d"),       # different domain -> kept
                (5, "http://blocked.com.evil.org/e"), # string-suffix trap -> kept
                (6, "https://fine.org/f")]            # unrelated -> kept


def test_domain_block_filter_suffix_semantics(spark):
    pages = spark.createDataFrame(_SUFFIX_ROWS, "doc_id long, url string")
    bl = spark.createDataFrame([("blocked.com",)], "domain string")
    kept = sorted(r["doc_id"] for r in
                  W.domain_block_filter(pages, bl).collect())
    assert kept == [4, 5, 6]
    dropped = sorted(r["doc_id"] for r in
                     W.domain_block_filter(pages, bl, keep=False).collect())
    assert dropped == [1, 2, 3]


def test_domain_block_filter_strategies_agree(spark, monkeypatch):
    """The blocklist size picks the route: OR chain, literal-array overlap
    or broadcast join.  One blocklist of LITERAL_OR_CAP + 1 domains takes
    the overlap route as is and the other two with a cap moved past it;
    all three keep and drop the same suffix-semantics rows."""
    pages = spark.createDataFrame(_SUFFIX_ROWS, "doc_id long, url string")
    n = W.LITERAL_OR_CAP + 1
    bl = spark.createDataFrame(
        [("blocked.com",)] + [(f"filler{i}.net",) for i in range(n - 1)],
        "domain string")

    def verdicts():
        plan = (W.domain_block_filter(pages, bl)
                ._jdf.queryExecution().executedPlan().toString())
        kept = sorted(r["doc_id"] for r in
                      W.domain_block_filter(pages, bl).collect())
        dropped = sorted(r["doc_id"] for r in
                         W.domain_block_filter(pages, bl, keep=False).collect())
        return plan, (kept, dropped)

    overlap_plan, overlap = verdicts()
    assert "arrays_overlap" in overlap_plan, overlap_plan
    monkeypatch.setattr(W, "LITERAL_OR_CAP", n)
    or_plan, or_chain = verdicts()
    assert "arrays_overlap" not in or_plan and "Join" not in or_plan, or_plan
    monkeypatch.setattr(W, "LITERAL_BLOCKLIST_CAP", n - 1)
    join_plan, join = verdicts()
    assert "BroadcastHashJoin" in join_plan, join_plan
    assert or_chain == overlap == join == ([4, 5, 6], [1, 2, 3])


def test_domain_block_filter_literal_is_map_side_join_broadcasts(spark,
                                                                  monkeypatch):
    pages = spark.createDataFrame([(1, "http://x.com/a")],
                                  "doc_id long, url string")
    bl = spark.createDataFrame([("blocked.com",)], "domain string")
    lit_plan = (W.domain_block_filter(pages, bl)
                ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in lit_plan, lit_plan      # zero shuffles
    assert "Join" not in lit_plan, lit_plan          # zero joins
    monkeypatch.setattr(W, "LITERAL_BLOCKLIST_CAP", 0)   # 1 domain > 0
    join_plan = (W.domain_block_filter(pages, bl)
                 ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in join_plan, join_plan


def test_robots_verdicts_semantics(spark):
    rules = spark.createDataFrame(
        [("ex.com", "/private", False), ("ex.com", "/private/pub", True),
         ("shut.com", "/", False),
         ("tie.com", "/x", True), ("tie.com", "/x", False)],
        "host string, prefix string, allow boolean")
    pages = spark.createDataFrame(
        [(1, "http://ex.com/private/a"),       # blocked by /private
         (2, "http://ex.com/private/pub/b"),   # re-allowed (longer prefix)
         (3, "http://ex.com/open"),            # no matching rule -> allowed
         (4, "http://WWW.ex.com/private?q=1"), # canonical host + raw path
         (5, "http://shut.com/anything"),      # disallow-all host
         (6, "http://norules.com/a"),          # rule-free host -> allowed
         (7, "http://tie.com/x"),              # equal length -> allow wins
         (8, "http://ex.com")],                # pathless -> '/', no match
        "doc_id long, url string")
    got = {r["doc_id"]: r["allowed"] for r in
           W.robots_verdicts(pages, rules).collect()}
    assert got == {1: False, 2: True, 3: True, 4: False, 5: False,
                   6: True, 7: True, 8: True}


def test_url_path_col_extraction(spark):
    rows = [("http://h.com/a/b?q=1#f",), ("https://h.com",),
            ("h.com/x",), ("http://h.com/?q",)]
    df = spark.createDataFrame(rows, "url string")
    got = [r["p"] for r in
           df.select(W.url_path_col(F.col("url")).alias("p")).collect()]
    assert got == ["/a/b", "/", "/x", "/"]


def test_host_path_frame_matches_column_builders(spark):
    """__h/__p staging is semantics-neutral: equals substring_index(
    canonical_url_col, '/', 1) and url_path_col on adversarial URLs."""
    rows = [(i, u) for i, u in enumerate([
        "http://WWW.Ex.com/A/b?x=1#f", "https://ex.com", "ex.com/x/",
        "http://ex.com?utm=1", "http://ex.com/p#frag",
        "http://ex.com/a://b", "www.ex.com", "http://ex.com//",
    ])]
    pages = spark.createDataFrame(rows, "doc_id long, url string")
    staged = {r["doc_id"]: (r["__h"], r["__p"])
              for r in W._host_path_frame(pages, "doc_id", "url").collect()}
    direct = {r["doc_id"]: (r["h"], r["p"]) for r in pages.select(
        "doc_id",
        F.substring_index(W.canonical_url_col(F.col("url")), "/", 1)
        .alias("h"),
        W.url_path_col(F.col("url")).alias("p")).collect()}
    assert staged == direct


def test_robots_verdicts_plan_stays_staged(spark):
    """The inferred join filters must NOT push below the staged url
    projections: that re-inlines every alias multiplicatively and blew the
    64 KB janino method limit (round-6 codegen fallback).  Pin: the scheme
    probe appears a bounded number of times in the optimized plan."""
    rules = spark.createDataFrame([("ex.com", "/a", False)],
                                  "host string, prefix string, allow boolean")
    pages = spark.createDataFrame([(1, "http://ex.com/a")],
                                  "doc_id long, url string")
    plan = W.robots_verdicts(pages, rules) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("locate(://") <= 2, plan
    assert "__cut" in plan


def test_domain_block_filter_oversized_list_falls_back_to_join(spark, monkeypatch):
    monkeypatch.setattr(W, "LITERAL_BLOCKLIST_CAP", 1)
    pages = spark.createDataFrame(
        [(1, "http://a.bad.com/x"), (2, "http://ok.com/y")],
        "doc_id long, url string")
    bl = spark.createDataFrame([("bad.com",), ("worse.com",)],
                               "domain string")
    kept = W.domain_block_filter(pages, bl)
    assert [r["doc_id"] for r in kept.collect()] == [2]
    # over the cap the literal array must NOT appear in the plan
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    assert "arrays_overlap" not in plan


def test_frontier_schedule_semantics(spark):
    from polycheck_spark.operators.web import frontier_schedule
    pages = spark.createDataFrame(
        [  # two variants of one canonical URL: dedup keeps max priority, min id
            (1, "http://a.example.com/p/1", 10),
            (2, "http://WWW.A.EXAMPLE.COM/p/1?utm=3", 90),
            (3, "http://a.example.com/p/2", 50),
            (4, "http://b.example.com/x", 7),
            (5, "http://b.example.com/y", 7),  # priority tie -> url ASC
        ],
        "doc_id long, url string, priority long")
    rows = {r["canonical_url"]: r
            for r in frontier_schedule(pages, delay_ms=250).collect()}
    assert len(rows) == 4
    merged = rows["a.example.com/p/1"]
    assert merged["priority"] == 90 and merged["rep_id"] == 1
    # host a: p/1 (pr 90) before p/2 (pr 50)
    assert merged["slot"] == 0 and rows["a.example.com/p/2"]["slot"] == 1
    assert rows["a.example.com/p/2"]["fetch_at_ms"] == 250
    # host b: equal priority -> lexicographic canonical order
    assert rows["b.example.com/x"]["slot"] == 0
    assert rows["b.example.com/y"]["slot"] == 1
    # slots restart per host and delay multiplies the slot
    assert all(r["fetch_at_ms"] == r["slot"] * 250 for r in rows.values())
    import pytest as _pt
    with _pt.raises(ValueError, match="delay_ms"):
        frontier_schedule(pages, delay_ms=0)


def test_frontier_schedule_plan_two_shuffles(spark):
    """Exactly two data shuffles: the canonical-url groupBy (map-side
    partial agg) and the per-host window. Anything more means the plan
    re-keys the corpus somewhere it shouldn't."""
    from polycheck_spark.operators.web import frontier_schedule
    pages = spark.range(5000).selectExpr(
        "id AS doc_id",
        "concat('http://h', CAST(id % 40 AS STRING), '.com/p/', "
        "CAST(id AS STRING)) AS url",
        "id % 7 AS priority")
    plan = frontier_schedule(pages)._jdf.queryExecution() \
        .executedPlan().toString()
    n_exchanges = sum(1 for line in plan.splitlines()
                      if "Exchange hashpartitioning" in line)
    assert n_exchanges == 2, plan
    assert plan.count("HashAggregate") >= 2  # partial + final url dedup
