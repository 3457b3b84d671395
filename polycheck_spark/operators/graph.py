"""Host-level web-graph operators: link extraction, the host link graph,
and fixed-point PageRank.

A crawl pipeline ranks domains before it ranks pages: the host link graph
(who links to whom, how often) drives crawl prioritization, seed-quality
weighting, and spam-neighborhood detection.  Reference scope: the reference
engine (idlebear/polycheck) has no graph surface; this extends the engine
along the brief's web-pipeline axis, next to connected components
(`dedup.py`) as the second iterative graph operator.

Exactness across engines: PageRank here is FIXED-POINT INTEGER power
iteration — ranks are 64-bit integers starting at ``BASE`` per node, each
round moves ``(rank * 85 * w) div (100 * out_w)`` along every edge (floor
division on non-negative integers, identical in Spark's ``div`` and
DuckDB's ``//``) and adds the integer teleport share.  No floats ever
cross the engine boundary, so a DuckDB twin with the iterations unrolled
as CTEs reproduces Spark's output bit-for-bit — the same trick the decimal
aggregations and integer TF-IDF orderings use.  Dangling-node mass is
dropped, not redistributed (documented simplification: ranking order is
preserved for crawl-priority purposes and the arithmetic stays exact).

Scale design: per round, one equi-join of the edge list against the rank
table and one map-side-combinable groupBy-sum — the same shuffle shape as
connected components.  The edge list is localCheckpointed once so a lazy
extraction pipeline (html regex -> explode -> group) does not re-execute
per round, and each round's rank table is checkpointed to truncate the
iterative lineage.  At 10^8 hosts every frame is host-sized, never
corpus-sized: the page->host projection collapses the 10^12-row corpus
before any iteration starts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from polycheck_spark.operators.web import canonical_url_col, canonical_url_sql

# absolute http(s) href targets; relative links carry no cross-host signal
HREF_RE = r'href="(https?://[^"]+)"'

BASE = 10**9          # initial integer rank per node
D_NUM, D_DEN = 85, 100  # damping 0.85 as an exact rational
TELEPORT = BASE * (D_DEN - D_NUM) // D_DEN


def host_col(url):
    """Lower-cased, www-stripped host of a URL column (the canonical
    form's authority part — shares :func:`canonical_url_col` so frontier
    dedup and the link graph agree on host identity)."""
    return F.substring_index(canonical_url_col(url), "/", 1)


def host_sql(url_expr: str) -> str:
    return f"split_part({canonical_url_sql(url_expr)}, '/', 1)"


def extract_links_col(html):
    """array<string> of absolute http(s) link targets in an HTML payload
    (binary or string) — single-pass Column regex, group 1 of ``HREF_RE``."""
    return F.regexp_extract_all(html.cast("string"), F.lit(HREF_RE), F.lit(1))


def extract_links_sql(html_expr: str) -> str:
    return f"regexp_extract_all({html_expr}, '{HREF_RE}', 1)"


def host_link_graph(pages: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links): the weighted host-level link graph.

    Self-loops (intra-host links, the overwhelming majority on real pages)
    are dropped — they carry no cross-host ranking signal and at corpus
    scale would dominate the edge list.  One explode + one groupBy: the
    corpus collapses to a host-pair relation in a single shuffle whose key
    space is host pairs, not pages.
    """
    src = host_col(F.col("url"))
    links = (pages.select(src.alias("src_host"),
                          F.explode(extract_links_col(F.col("html")))
                          .alias("target")))
    dst = host_col(F.col("target"))
    return (links.select("src_host", dst.alias("dst_host"))
            .filter(F.col("src_host") != F.col("dst_host"))
            .groupBy("src_host", "dst_host")
            .agg(F.count(F.lit(1)).alias("n_links")))


def host_link_graph_sql(pages_cte: str) -> str:
    """DuckDB twin of :func:`host_link_graph` (unnest instead of explode)."""
    return f"""
SELECT src_host, dst_host, COUNT(*) AS n_links FROM (
  SELECT src_host, {host_sql('target')} AS dst_host FROM (
    SELECT {host_sql("url")} AS src_host,
           unnest({extract_links_sql("html")}) AS target
    FROM ({pages_cte})))
WHERE src_host <> dst_host
GROUP BY 1, 2
"""


def pagerank(edges: DataFrame, *, iters: int = 3) -> DataFrame:
    """(host, pr): fixed-point integer PageRank after ``iters`` rounds of
    power iteration over a weighted edge list (see module docstring for the
    exact-arithmetic contract).  ``iters`` is a fixed budget, not a
    convergence probe, so the oracle can unroll it; 3 rounds already
    separate hub tiers on host graphs, and callers needing convergence run
    more rounds at the same per-round cost.

    int64 headroom: the per-edge product ``pr * 85 * w`` must stay under
    2^63.  Ranks are bounded by the total mass ``n_nodes * BASE``, so with
    the default BASE=1e9 the contract holds to ~1e8 nodes at unit weights;
    for larger graphs or heavy edge weights, scale BASE down — rank
    resolution shrinks proportionally but the fixed-point exactness
    argument is independent of BASE."""
    # r8: every checkpoint here is LAZY — there is no per-round convergence
    # probe (the budget is fixed), so nothing needs materializing until the
    # caller's one action, which collapses the former 2 + iters eager
    # checkpoint jobs into a single job.  The checkpoints still truncate
    # lineage (the plan of round k references round k-1's pinned RDD, not
    # its full pipeline), which is all they were for.
    e = (edges.select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"),
                      F.col("n_links").cast("long").alias("w"))
         .localCheckpoint(eager=False))
    nodes = (e.select(F.col("src").alias("host"))
             .unionAll(e.select(F.col("dst").alias("host")))
             .distinct().localCheckpoint(eager=False))
    outw = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    ew = e.join(outw, "src")
    ranks = nodes.select("host", F.lit(BASE).cast("long").alias("pr"))
    for _ in range(iters):
        ranks = pagerank_round(ew, nodes, ranks).localCheckpoint(eager=False)
    return ranks


def pagerank_round(ew: DataFrame, nodes: DataFrame,
                   ranks: DataFrame) -> DataFrame:
    """(host, pr) after one fixed-point round: the previous ``ranks``
    (host, pr) move ``(pr * 85 * w) div (100 * out_w)`` along every edge of
    ``ew`` (src, dst, w, out_w), and every node of ``nodes`` adds the
    teleport share to its in-mass.  One equi-join + one groupBy-sum over
    host-sized frames."""
    contrib = (ew.join(ranks, ew.src == F.col("host"))
               .select(F.col("dst"),
                       F.expr(f"(pr * {D_NUM} * w) div ({D_DEN} * out_w)")
                       .alias("c")))
    in_mass = contrib.groupBy("dst").agg(F.sum("c").alias("m"))
    return (nodes.join(in_mass, nodes["host"] == in_mass.dst, "left")
            .select("host",
                    (F.lit(TELEPORT) + F.coalesce(F.col("m"), F.lit(0)))
                    .cast("long").alias("pr")))


def pagerank_sql(edges_cte: str, iters: int = 3) -> str:
    """DuckDB twin of :func:`pagerank`: the fixed round budget unrolled as
    one CTE per iteration — same integer arithmetic, bit-equal output."""
    parts = [
        f"pr_e AS (SELECT src_host AS src, dst_host AS dst, "
        f"CAST(n_links AS BIGINT) AS w FROM ({edges_cte}))",
        "pr_nodes AS (SELECT DISTINCT host FROM ("
        "SELECT src AS host FROM pr_e "
        "UNION ALL SELECT dst FROM pr_e))",
        "pr_out AS (SELECT src, SUM(w) AS out_w FROM pr_e GROUP BY 1)",
        "pr_ew AS (SELECT e.src, e.dst, e.w, o.out_w "
        "FROM pr_e e JOIN pr_out o USING (src))",
        f"pr_r0 AS (SELECT host, CAST({BASE} AS BIGINT) AS pr "
        f"FROM pr_nodes)",
    ]
    for i in range(iters):
        parts.append(
            f"pr_r{i + 1} AS (SELECT n.host, CAST({TELEPORT} + "
            f"COALESCE(SUM((r.pr * {D_NUM} * e.w) // ({D_DEN} * e.out_w)), 0) "
            f"AS BIGINT) AS pr "
            f"FROM pr_nodes n "
            f"LEFT JOIN pr_ew e ON e.dst = n.host "
            f"LEFT JOIN pr_r{i} r ON r.host = e.src "
            f"GROUP BY n.host)")
    return ("WITH " + ",\n".join(parts) +
            f"\nSELECT host, pr FROM pr_r{iters}")


# --- anchor text -------------------------------------------------------------
# The text INSIDE a link is the classic external description of its target
# (search ranking, page labeling, seed expansion all consume it).  Anchor
# elements are matched once; hrefs and inner texts are extracted as two
# arrays of the SAME match sequence and zipped positionally — one pass,
# no per-row Python.  Cross-engine note: Spark's regexp_extract_all takes
# one group index per call and DuckDB's the same; positional zip is
# arrays_zip in Spark and multi-unnest alignment in DuckDB.

ANCHOR_RE = r'<a href="(https?://[^"]*)"[^>]*>([^<]*)</a>'


def anchor_pairs(pages: DataFrame) -> DataFrame:
    """(dst_host, anchor): one row per anchor element with non-empty inner
    text, the target canonicalized to its host."""
    s = F.col("html").cast("string")
    hrefs = F.regexp_extract_all(s, F.lit(ANCHOR_RE), F.lit(1))
    texts = F.regexp_extract_all(s, F.lit(ANCHOR_RE), F.lit(2))
    z = pages.select(F.explode(F.arrays_zip(hrefs.alias("u"),
                                            texts.alias("t"))).alias("z"))
    return (z.select(host_col(F.col("z.u")).alias("dst_host"),
                     F.col("z.t").alias("anchor"))
            .filter(F.col("anchor") != ""))


def anchor_terms(pages: DataFrame) -> DataFrame:
    """(dst_host, term, n_links): how often each lower-cased anchor token
    describes each target host — explode + one groupBy (term-keyed shuffle
    of anchor tokens only, never page payloads)."""
    from polycheck_spark.operators.text import tokens_col
    p = anchor_pairs(pages)
    t = p.select("dst_host",
                 F.explode(tokens_col(F.col("anchor"))).alias("term"))
    return (t.groupBy("dst_host", "term")
            .agg(F.count(F.lit(1)).alias("n_links"))
            .filter(F.col("n_links") >= 1))


def anchor_terms_sql(pages_cte: str) -> str:
    """DuckDB twin of :func:`anchor_terms` (positional multi-unnest zip)."""
    from polycheck_spark.operators.text import _tokens_sql
    return f"""
SELECT dst_host, term, COUNT(*) AS n_links FROM (
  SELECT dst_host, unnest({_tokens_sql('anchor')}) AS term FROM (
    SELECT {host_sql('u')} AS dst_host, t AS anchor FROM (
      SELECT unnest(regexp_extract_all(html, '{ANCHOR_RE}', 1)) AS u,
             unnest(regexp_extract_all(html, '{ANCHOR_RE}', 2)) AS t
      FROM ({pages_cte}))
    WHERE t <> ''))
GROUP BY 1, 2 HAVING COUNT(*) >= 1
"""
