"""Host link graph + fixed-point PageRank: extraction filters, self-loop
drop, and bit-equality against an independent pure-Python integer oracle."""

import pytest

from polycheck_spark.operators import graph as G


def _pagerank_py(edges, iters):
    """Independent mini-oracle: same fixed-point contract, plain dicts."""
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    outw = {}
    for s, d, w in edges:
        outw[s] = outw.get(s, 0) + w
    pr = {n: G.BASE for n in nodes}
    for _ in range(iters):
        mass = {n: 0 for n in nodes}
        for s, d, w in edges:
            mass[d] += (pr[s] * G.D_NUM * w) // (G.D_DEN * outw[s])
        pr = {n: G.TELEPORT + mass[n] for n in nodes}
    return pr


EDGES = [("a", "b", 3), ("b", "a", 1), ("c", "a", 2), ("c", "b", 1),
         ("d", "a", 5)]  # d is a source-only node; nobody links to c or d


@pytest.mark.parametrize("iters", [1, 3, 7])
def test_pagerank_matches_python_oracle_bit_for_bit(spark, iters):
    edf = spark.createDataFrame(
        EDGES, "src_host string, dst_host string, n_links long")
    got = {r["host"]: r["pr"] for r in G.pagerank(edf, iters=iters).collect()}
    assert got == _pagerank_py(EDGES, iters)


def test_pagerank_sink_nodes_get_teleport_only_after_drain(spark):
    # x -> y only: y accumulates, x (no in-edges) sits at pure teleport
    edf = spark.createDataFrame([("x", "y", 1)],
                                "src_host string, dst_host string, n_links long")
    got = {r["host"]: r["pr"] for r in G.pagerank(edf, iters=2).collect()}
    assert got["x"] == G.TELEPORT
    # y's round-2 mass comes from x's round-1 rank (TELEPORT), damped
    assert got["y"] == G.TELEPORT + (G.TELEPORT * G.D_NUM) // G.D_DEN


def test_weights_shift_rank_proportionally(spark):
    # s splits 9:1 between a and b -> a receives 9x b's contribution
    edf = spark.createDataFrame([("s", "a", 9), ("s", "b", 1)],
                                "src_host string, dst_host string, n_links long")
    got = {r["host"]: r["pr"] for r in G.pagerank(edf, iters=1).collect()}
    ca = (G.BASE * G.D_NUM * 9) // (G.D_DEN * 10)
    cb = (G.BASE * G.D_NUM * 1) // (G.D_DEN * 10)
    assert got["a"] - G.TELEPORT == ca and got["b"] - G.TELEPORT == cb


def test_link_extraction_keeps_absolute_http_only(spark):
    html = ('<a href="/relative">r</a><a href="mailto:a@b.c">m</a>'
            '<a href="http://one.com/x">1</a>'
            '<a href="https://www.two.com/y#f">2</a>'
            '<a href="ftp://three.com/z">3</a>')
    df = spark.createDataFrame([("http://src.com/p", html)],
                               "url string, html string")
    got = sorted((r["src_host"], r["dst_host"], r["n_links"])
                 for r in G.host_link_graph(df).collect())
    assert got == [("src.com", "one.com", 1), ("src.com", "two.com", 1)]


def test_self_loops_dropped_and_weights_counted(spark):
    html = ('<a href="http://me.com/a">s</a>'      # self loop -> dropped
            '<a href="http://you.com/1">x</a>'
            '<a href="http://YOU.com/2">x</a>')    # same host, case-folded
    df = spark.createDataFrame([("http://me.com/", html)],
                               "url string, html string")
    got = [(r["src_host"], r["dst_host"], r["n_links"])
           for r in G.host_link_graph(df).collect()]
    assert got == [("me.com", "you.com", 2)]


def test_pagerank_plan_is_python_free(spark):
    edf = spark.createDataFrame(EDGES,
                                "src_host string, dst_host string, n_links long")
    plan = G.pagerank(edf, iters=2)._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, marker


def test_anchor_pairs_zip_and_filters(spark):
    html = ('<a href="http://one.com/x">Visit One</a>'
            '<a href="/rel">relative skipped</a>'
            '<a href="https://two.com/y" class="z">two words here</a>'
            '<a href="http://three.com/e"></a>'   # empty anchor skipped
            '<a href="http://four.com/q">Four</a>')
    df = spark.createDataFrame([(html,)], "html string")
    got = sorted((r["dst_host"], r["anchor"])
                 for r in G.anchor_pairs(df).collect())
    assert got == [("four.com", "Four"), ("one.com", "Visit One"),
                   ("two.com", "two words here")]


def test_anchor_terms_counts_tokens_lowercased(spark):
    html = ('<a href="http://t.com/1">Great Site</a>'
            '<a href="http://t.com/2">great content</a>')
    df = spark.createDataFrame([(html,)], "html string")
    got = {(r["dst_host"], r["term"]): r["n_links"]
           for r in G.anchor_terms(df).collect()}
    assert got == {("t.com", "great"): 2, ("t.com", "site"): 1,
                   ("t.com", "content"): 1}
