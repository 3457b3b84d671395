"""Web-pipeline URL operators: canonicalization, URL-level dedup, host stats.

A Common-Crawl-style pipeline dedupes fetches by CANONICAL url before any
content pass (the same page is crawled as http/https, with/without www.,
with tracking query strings, with/without a trailing slash).  Everything
here is pure Column string arithmetic (JVM, whole-stage codegen) with
DuckDB SQL twins built from the same primitive ops (strpos/substr/lower) —
no parse_url dependence, since DuckDB has no equivalent and cross-engine
value-exactness is the contract.

Canonical form: scheme dropped, host lowercased with one leading ``www.``
stripped, query string and fragment dropped, trailing slashes stripped.
Path case is PRESERVED (paths are case-sensitive on real servers; only the
authority is case-insensitive per RFC 3986).

Scale notes: canonicalization is a map-side projection; URL-level dedup is
one groupBy on the canonical string (map-side partial aggregation); host
stats aggregate the same projection — no shuffles beyond the one hash
aggregation each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def canonical_url_col(url):
    """Canonical form of a URL column (see module docstring).

    The scheme is split at the FIRST '://' occurrence (a '://' inside a
    query string — e.g. a redirect parameter — must not move the split),
    and the query/fragment are cut BEFORE the host is extracted, so
    path-less URLs like ``http://ex.com?utm=1`` canonicalize to the bare
    host instead of smuggling the query into it."""
    pos = F.locate("://", url)
    after_scheme = F.when(pos > 0,
                          url.substr(pos + F.lit(3), F.length(url))).otherwise(url)
    cut = F.substring_index(F.substring_index(after_scheme, "?", 1), "#", 1)
    host = F.substring_index(cut, "/", 1)
    rest = cut.substr(F.length(host) + F.lit(1), F.length(cut))
    host_l = F.lower(host)
    host_c = F.when(host_l.startswith("www."),
                    host_l.substr(F.lit(5), F.length(host_l))).otherwise(host_l)
    rest_c = F.regexp_replace(rest, "/+$", "")
    return F.concat(host_c, rest_c)


def canonical_url_sql(url_expr: str) -> str:
    """DuckDB twin of :func:`canonical_url_col` — same op order: first
    '://' occurrence, '?' then '#' cut before host extraction."""
    after = (f"(CASE WHEN strpos({url_expr}, '://') > 0 "
             f"THEN substr({url_expr}, strpos({url_expr}, '://') + 3) "
             f"ELSE {url_expr} END)")
    cutq = (f"(CASE WHEN strpos({after}, '?') > 0 "
            f"THEN substr({after}, 1, strpos({after}, '?') - 1) ELSE {after} END)")
    cut = (f"(CASE WHEN strpos({cutq}, '#') > 0 "
           f"THEN substr({cutq}, 1, strpos({cutq}, '#') - 1) ELSE {cutq} END)")
    host = f"split_part({cut}, '/', 1)"
    rest = f"substr({cut}, length({host}) + 1)"
    host_l = f"lower({host})"
    host_c = (f"(CASE WHEN substr({host_l}, 1, 4) = 'www.' "
              f"THEN substr({host_l}, 5) ELSE {host_l} END)")
    rest_c = f"regexp_replace({rest}, '/+$', '')"
    return f"({host_c} || {rest_c})"


# --- html -> text extraction -------------------------------------------------
# The input_hint schema carries the raw fetch as ``html BINARY``; the ``text``
# column every downstream stage consumes is DERIVED from it.  This is the
# first stage of a Common-Crawl pipeline, so it must be deterministic and
# cheap: everything below is Column regex/string arithmetic (JVM, no Python),
# with a DuckDB twin over the same primitives.  Cross-engine regex notes:
# Spark compiles Java regex, DuckDB compiles RE2 — every pattern used here
# ((?is) flags, non-greedy .*?, character classes, \s) behaves identically in
# both; backreferences (Java-only) are deliberately avoided (script and style
# blocks are two passes, not one with \1).

_HTML_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                  ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&")]


def html_to_text_col(html):
    """Visible text of an HTML payload column (binary or string).

    Stages: drop <script>/<style> blocks (content and all), drop comments,
    strip remaining tags, decode the six ubiquitous entities (&amp; LAST, so
    double-escapes like ``&amp;lt;`` decode one level — standard order), and
    normalize whitespace runs to single spaces.  Numeric character
    references beyond &#39; are left literal (documented subset — a full
    HTML5 entity table is a lookup join, not a regex).
    """
    s = html.cast("string")
    s = F.regexp_replace(s, r"(?is)<script[^>]*>.*?</script\s*>", " ")
    s = F.regexp_replace(s, r"(?is)<style[^>]*>.*?</style\s*>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(s, r"<[^>]*>", " ")
    for ent, rep in _HTML_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(s, r"\s+", " "))


def html_to_text_sql(html_expr: str) -> str:
    """DuckDB twin of :func:`html_to_text_col` — same passes, same order
    (DuckDB's regexp_replace needs the explicit 'g' flag Spark implies)."""
    s = html_expr
    s = f"regexp_replace({s}, '(?is)<script[^>]*>.*?</script\\s*>', ' ', 'g')"
    s = f"regexp_replace({s}, '(?is)<style[^>]*>.*?</style\\s*>', ' ', 'g')"
    s = f"regexp_replace({s}, '(?s)<!--.*?-->', ' ', 'g')"
    s = f"regexp_replace({s}, '<[^>]*>', ' ', 'g')"
    for ent, rep in _HTML_ENTITIES:
        lit = rep.replace("'", "''")
        s = f"replace({s}, '{ent}', '{lit}')"
    return f"trim(regexp_replace({s}, '\\s+', ' ', 'g'))"


def url_dedup_groups(pages: DataFrame) -> DataFrame:
    """(canonical_url, n_variants, min_id): groups of fetches that collapse
    to one canonical URL — the crawl-frontier dedup statistic.  Only groups
    with more than one variant are returned (the interesting mass)."""
    return (pages.groupBy(canonical_url_col(F.col("url")).alias("canonical_url"))
            .agg(F.count(F.lit(1)).alias("n_variants"),
                 F.min("doc_id").alias("min_id"))
            .filter(F.col("n_variants") > 1))


def url_dedup_groups_sql(table: str) -> str:
    c = canonical_url_sql("url")
    return f"""
SELECT {c} AS canonical_url, COUNT(*) AS n_variants, MIN(doc_id) AS min_id
FROM {table} GROUP BY 1 HAVING COUNT(*) > 1
"""


def host_stats(pages: DataFrame) -> DataFrame:
    """(host, n_fetches, n_canonical): per-host fetch counts and distinct
    canonical URLs — the per-domain crawl profile (its gap is the per-host
    duplicate-fetch mass, the crawl-politeness/skew signal)."""
    canon = canonical_url_col(F.col("url"))
    host = F.substring_index(canon, "/", 1)
    return (pages.select(host.alias("host"), canon.alias("c"))
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_fetches"),
                 F.countDistinct("c").alias("n_canonical")))


def host_stats_sql(table: str) -> str:
    c = canonical_url_sql("url")
    return f"""
SELECT split_part(c, '/', 1) AS host,
       COUNT(*) AS n_fetches, COUNT(DISTINCT c) AS n_canonical
FROM (SELECT {c} AS c FROM {table})
GROUP BY 1
"""


# --- domain blocklist filtering ---------------------------------------------
# The C4-class URL filter: drop every page whose host IS a blocked domain or
# sits under one (any subdomain depth).  Suffix semantics make an exact-host
# join insufficient; instead each host explodes into its dot-suffixes
# ("a.b.example.com" -> [a.b.example.com, b.example.com, example.com]) and
# one broadcast semi-join against the blocklist decides membership.  Fan-out
# is the label depth (<= ~10 on real hosts), the blocklist broadcasts (it is
# human-curated, thousands of rows at most), and the corpus is scanned once
# — no shuffle keyed on pages at any point.

# Largest blocklist inlined as a literal array: past this the expression
# itself becomes the bottleneck (plan size, task serialization) and the
# broadcast-join strategy is strictly better.
LITERAL_BLOCKLIST_CAP = 100_000

# Largest blocklist compiled to a flat endswith-OR chain (pure codegen);
# past this the boolean expression tree itself bloats the plan and the
# literal-array overlap (interpreted, but O(labels) per row) wins.
LITERAL_OR_CAP = 64


def host_suffixes_sql(host_expr: str) -> str:
    return (f"list_transform(range(1, len(string_split({host_expr}, '.')) + 1), "
            f"i -> array_to_string(string_split({host_expr}, '.')"
            f"[i:len(string_split({host_expr}, '.'))], '.'))")


def domain_block_filter(pages: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Pages whose canonical host is NOT under any blocked domain.
    ``blocklist`` is one
    column ``domain`` of already-canonical (lowercase, no www.) domains.

    The blocklist's size picks the route; all three give the same verdicts:

    * at most ``LITERAL_OR_CAP`` domains: a flat chain of codegen string
      compares (host == d OR host ends with '.' + d);
    * at most ``LITERAL_BLOCKLIST_CAP``: the blocklist as a literal array
      and one map-side ``arrays_overlap`` filter over the host's suffixes;
    * larger: suffix explode -> broadcast semi-join -> distinct blocked ids
      -> one id-keyed anti-join back onto the pages; the blocked-id
      relation is bounded by the blocked page mass and the join keys on
      ``doc_id`` alone, never on wide page payloads.

    The two literal routes run ZERO shuffles and zero joins; the corpus is
    scanned once.  NOTE the blocklist collect is a driver action that runs
    at PLAN-BUILD time (not at execution), freezing the blocklist snapshot
    when this function is called."""
    host = F.substring_index(canonical_url_col(F.col("url")), "/", 1)
    # bind the host's label array to a NAMED column before the suffix
    # transform: an expression tree referenced inside a HOF lambda is
    # re-evaluated per array element, so inlining the canonicalization
    # chain there re-ran the full regex/substring pipeline once per suffix
    # per row (the _shingles trap; measured ~7 s of the 8.4 s sf1.0 gate).
    # The double reference (slice + size) also stops CollapseProject from
    # re-inlining it.
    parted = pages.withColumn("__hparts", F.split(host, r"\."))
    n = F.size(F.col("__hparts"))
    sfx = F.transform(F.sequence(F.lit(1), n),
                      lambda i: F.array_join(F.slice(F.col("__hparts"), i, n), "."))
    probe = blocklist.select("domain") \
        .limit(LITERAL_BLOCKLIST_CAP + 1).collect()
    if len(probe) <= LITERAL_BLOCKLIST_CAP:
        doms = sorted({r["domain"] for r in probe})
        if len(doms) <= LITERAL_OR_CAP:
            # small blocklist: "d is a dot-suffix of host" is exactly
            # host == d OR host ends with '.' + d, so the gate compiles
            # to a flat boolean chain of codegen string compares — the
            # arrays_overlap form needs the interpreted suffix
            # transform (HOFs never codegen), which was the whole gate
            # cost.  Label-boundary semantics are identical: the dot
            # prefix is what keeps "xblocked.com" out of "blocked.com".
            hit = F.lit(False)
            for d in doms:
                hit = hit | (F.col("__h") == d) \
                    | F.col("__h").endswith("." + d)
            hosted = pages.withColumn("__h", host)
            return hosted.filter(~hit).drop("__h")
        arr = F.array([F.lit(d) for d in doms])
        hit = F.arrays_overlap(sfx, arr)
        return parted.filter(~hit).drop("__hparts")
    # oversized for a literal: broadcast-join it
    cand = (parted.select("doc_id", F.explode(sfx).alias("__d")))
    blocked_ids = (cand.join(
        F.broadcast(blocklist.select(F.col("domain").alias("__d")).distinct()),
        "__d", "left_semi").select("doc_id").distinct())
    return pages.join(blocked_ids, "doc_id", "left_anti")


# --- robots-rule evaluation --------------------------------------------------
# Crawl-compliance gate: per-host path-prefix rules (the Allow:/Disallow:
# lines of robots.txt, pre-parsed into a rules table), evaluated with the
# standard semantics: the LONGEST matching prefix wins, equal lengths break
# toward Allow, no matching rule means allowed.

def url_path_col(url):
    """Path of a URL column ('/' when absent), query/fragment stripped —
    robots rules match the RAW path, so no canonicalization here beyond
    scheme removal."""
    pos = F.locate("://", url)
    after = F.when(pos > 0, url.substr(pos + F.lit(3), F.length(url))) \
        .otherwise(url)
    cut = F.substring_index(F.substring_index(after, "?", 1), "#", 1)
    host = F.substring_index(cut, "/", 1)
    rest = cut.substr(F.length(host) + F.lit(1), F.length(cut))
    return F.when(rest == "", F.lit("/")).otherwise(rest)


def url_path_sql(url_expr: str) -> str:
    after = (f"(CASE WHEN strpos({url_expr}, '://') > 0 "
             f"THEN substr({url_expr}, strpos({url_expr}, '://') + 3) "
             f"ELSE {url_expr} END)")
    cutq = (f"(CASE WHEN strpos({after}, '?') > 0 "
            f"THEN substr({after}, 1, strpos({after}, '?') - 1) ELSE {after} END)")
    cut = (f"(CASE WHEN strpos({cutq}, '#') > 0 "
           f"THEN substr({cutq}, 1, strpos({cutq}, '#') - 1) ELSE {cutq} END)")
    host = f"split_part({cut}, '/', 1)"
    rest = f"substr({cut}, length({host}) + 1)"
    return f"(CASE WHEN {rest} = '' THEN '/' ELSE {rest} END)"


def _host_path_frame(pages: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """(id, __h, __p): canonical host + raw path, STAGED so the shared
    scheme-split / query-cut intermediate is computed once.

    Inlining ``canonical_url_col`` and ``url_path_col`` side by side
    duplicates the whole scheme/cut/host chain inside one projection;
    Catalyst's collapsed projection then re-inlines it per reference and
    the generated sort/filter method blows janino's 64 KB limit (Spark
    falls back to interpreted execution for the stage).  Here each select
    aliases a non-cheap sub-result that the NEXT select references more
    than once — CollapseProject keeps multi-referenced non-cheap aliases
    un-inlined, so the expression tree stays linear and the stage
    compiles.  Semantics are identical: __h equals
    ``substring_index(canonical_url_col(url), '/', 1)`` and __p equals
    ``url_path_col(url)`` (pinned by test)."""
    u = F.col("__u")
    pos = F.locate("://", u)
    s = pages.select(F.col(id_col), F.col(url_col).alias("__u"))
    s = s.select(id_col,
                 F.when(pos > 0, u.substr(pos + F.lit(3), F.length(u)))
                 .otherwise(u).alias("__af"))
    s = s.select(id_col,
                 F.substring_index(F.substring_index("__af", "?", 1), "#", 1)
                 .alias("__cut"))
    s = s.select(id_col, "__cut",
                 F.substring_index("__cut", "/", 1).alias("__rh"))
    rest = F.col("__cut").substr(F.length("__rh") + F.lit(1),
                                 F.length("__cut"))
    s = s.select(id_col, F.lower("__rh").alias("__hl"), rest.alias("__rest"))
    hl = F.col("__hl")
    host = F.when(hl.startswith("www."),
                  hl.substr(F.lit(5), F.length(hl))).otherwise(hl)
    path = F.when(F.col("__rest") == "", F.lit("/")) \
        .otherwise(F.col("__rest"))
    # coalesce makes both outputs non-nullable, so a downstream join can't
    # infer an IsNotNull(__h/__p) constraint — that inferred filter is what
    # pushed below these projections, substituting every alias back in and
    # regrowing the 64 KB expression this staging exists to avoid.  A NULL
    # url maps to host '' / path '/', which matches no rule: same verdict
    # (allowed) as the inner join dropping the NULL key.
    return s.select(id_col, F.coalesce(host, F.lit("")).alias("__h"),
                    F.coalesce(path, F.lit("/")).alias("__p"))


def robots_verdicts(pages: DataFrame, rules: DataFrame) -> DataFrame:
    """(id, allowed): per-page robots verdict against a rules table
    (host, prefix, allow) — longest matching prefix wins, ties break
    toward allow, hosts without rules are allowed.

    Rules-table contract: ``prefix`` matches against the URL's PATH with
    the query string and fragment stripped (a pre-parsed rule like
    ``Disallow: /search?`` therefore never matches — RFC 9309 matches
    path+query, and this engine's documented deviation is that rules are
    path-only; encode query-sensitive policies as path prefixes).

    Shape: broadcast the (small, pre-parsed) rules table, host-keyed join +
    prefix filter, then the winning rule per page via one window over the
    MATCHED relation only (bounded by rules-per-host, not corpus size),
    and a left join back onto page ids for the no-rule default."""
    from pyspark.sql import Window
    pp = _host_path_frame(pages, "doc_id", "url")
    r = rules.select(F.col("host").alias("__h"), "prefix", "allow")
    m = (pp.join(F.broadcast(r), "__h")
         .filter(F.col("__p").startswith(F.col("prefix"))))
    w = Window.partitionBy("doc_id").orderBy(
        F.length("prefix").desc(), F.col("allow").desc())
    win = (m.withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") == 1).select("doc_id", "allow"))
    return (pp.select("doc_id").join(win, "doc_id", "left")
            .select("doc_id", F.coalesce(F.col("allow"), F.lit(True))
                    .alias("allowed")))


def robots_verdicts_sql(pages_cte: str, rules_cte: str) -> str:
    host = f"split_part({canonical_url_sql('url')}, '/', 1)"
    return f"""
SELECT p.doc_id, coalesce(w.allow, TRUE) AS allowed FROM
  (SELECT doc_id, {host} AS h, {url_path_sql("url")} AS pth
   FROM ({pages_cte})) p
LEFT JOIN (
  SELECT doc_id, allow FROM (
    SELECT m.*, row_number() OVER (PARTITION BY doc_id
        ORDER BY length(prefix) DESC, allow DESC) AS rn FROM (
      SELECT pp.doc_id, r.allow, r.prefix
      FROM (SELECT doc_id, {host} AS h, {url_path_sql("url")} AS pth
            FROM ({pages_cte})) pp
      JOIN ({rules_cte}) r ON r.host = pp.h
      WHERE starts_with(pp.pth, r.prefix)) m)
  WHERE rn = 1) w USING (doc_id)
"""


# --- crawl-frontier politeness scheduling ------------------------------------
# The fetch scheduler's core relational step: given candidate URLs with a
# priority score, emit WHEN each one may be fetched under a per-host
# politeness delay (one request per host per `CRAWL_DELAY_MS`).  Reference scope:
# polycheck has no crawler, but its query surface over per-key ordered
# assignment (windowed rank) is the same shape as visibility's per-sensor
# walks; this operator is part of the webtext-pipeline extension surface.

#: per-host politeness delay between two fetch slots
CRAWL_DELAY_MS = 1000


def frontier_schedule(pages: DataFrame) -> DataFrame:
    """Per-host crawl schedule: canonical-dedup, then rank by priority.

    Steps: (1) collapse URL variants to canonical form (a frontier never
    fetches the same canonical URL twice), keeping the best (max) priority
    and the smallest id as the group representative; (2) within each host,
    order by (priority DESC, canonical_url ASC) and assign fetch slots
    0,1,2,...; (3) ``fetch_at_ms = slot * CRAWL_DELAY_MS``.

    Output: (canonical_url, host, rep_id, priority, slot, fetch_at_ms).

    Scale: two shuffles — a groupBy on canonical_url (map-side partial agg,
    so the wire carries ~one row per distinct URL) and a window keyed on
    host.  The per-host window is semantically sequential: politeness means
    one fetch per host per delay, so a host's queue is inherently a serial
    structure — host skew here is workload shape, not a plan defect.  Slots
    bound driver state at zero (no collect); hosts partition independently
    across executors.
    """
    from pyspark.sql import Window
    canon = canonical_url_col(F.col("url"))
    cand = (pages
            .select(F.col("doc_id").alias("__id"),
                    F.col("priority").alias("__pr"),
                    canon.alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.min("__id").alias("rep_id"),
                 F.max("__pr").alias("priority"))
            .withColumn("host", F.substring_index("canonical_url", "/", 1)))
    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("canonical_url").asc())
    slot = (F.row_number().over(w) - F.lit(1)).cast("long")
    return (cand.withColumn("slot", slot)
            .withColumn("fetch_at_ms",
                        (F.col("slot") * F.lit(CRAWL_DELAY_MS)).cast("long"))
            .select("canonical_url", "host", "rep_id", "priority",
                    "slot", "fetch_at_ms"))


def frontier_schedule_sql(table: str) -> str:
    c = canonical_url_sql("url")
    return f"""
SELECT canonical_url, split_part(canonical_url, '/', 1) AS host,
       rep_id, priority,
       CAST(row_number() OVER (
             PARTITION BY split_part(canonical_url, '/', 1)
             ORDER BY priority DESC, canonical_url ASC) - 1 AS BIGINT) AS slot,
       CAST((row_number() OVER (
             PARTITION BY split_part(canonical_url, '/', 1)
             ORDER BY priority DESC, canonical_url ASC) - 1)
            * {CRAWL_DELAY_MS} AS BIGINT) AS fetch_at_ms
FROM (SELECT {c} AS canonical_url,
             MIN(doc_id) AS rep_id, MAX(priority) AS priority
      FROM {table} GROUP BY 1)
"""
