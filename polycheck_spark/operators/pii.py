"""PII detection and redaction over a document corpus.

The standard pre-training privacy stage (C4 / RefinedWeb / Dolma all run a
variant): find personally-identifying spans — email addresses, phone
numbers, IPv4 addresses — count them per document, and replace them with
typed placeholder tokens.  Reference scope: the reference engine
(idlebear/polycheck) has no text surface at all; this extends the engine
along the brief's web-pipeline axis.

Scale design: every pattern is a single-pass Column `regexp_replace` /
`regexp_extract_all` — JVM-side, whole-stage-codegen, embarrassingly
parallel, zero shuffles.  At 10^12 documents this stage is pure map work
and scales linearly with executors; there is nothing to broadcast, skew,
or spill.

Oracle parity: the patterns are written in the common Java-regex / RE2
subset (character classes, bounded quantifiers, ``\\b``, ``\\d`` — no
lookaround, no backreferences) so the exact same pattern string drives
Spark and the DuckDB twin; DuckDB needs the explicit ``'g'`` flag Spark
implies.  Counts are taken on the ORIGINAL text, redaction order is
email -> ipv4 -> phone in both engines (order is observable when spans
could overlap, so it is pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Common Java-regex / RE2 subset — keep in sync with the SQL twin, which
# interpolates these same strings (DuckDB quoted literals pass backslashes
# through verbatim, so no re-escaping is needed).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"

EMAIL_TOKEN = "<EMAIL>"
IPV4_TOKEN = "<IP>"
PHONE_TOKEN = "<PHONE>"

# (pattern, placeholder) in pinned application order: email first (its
# local part may contain digit runs a later pattern would chew on), then
# ipv4 (dotted digits), then phone (dashed digits — disjoint from ipv4).
_RULES = [(EMAIL_RE, EMAIL_TOKEN), (IPV4_RE, IPV4_TOKEN),
          (PHONE_RE, PHONE_TOKEN)]


def _count(col, pattern: str):
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0))).cast("int")


def redact_pii(docs: DataFrame) -> DataFrame:
    """(id, clean_text, n_emails, n_ips, n_phones) — typed-placeholder
    redaction plus per-document match counts (counted on the original
    text, before any replacement)."""
    t = F.col("text")
    clean = t
    for pat, tok in _RULES:
        clean = F.regexp_replace(clean, pat, tok)
    return docs.select(
        F.col("doc_id"),
        clean.alias("clean_text"),
        _count(t, EMAIL_RE).alias("n_emails"),
        _count(t, IPV4_RE).alias("n_ips"),
        _count(t, PHONE_RE).alias("n_phones"))


def redact_pii_sql(table: str) -> str:
    """DuckDB twin of :func:`redact_pii` — same patterns, same order."""
    clean = "text"
    for pat, tok in _RULES:
        clean = f"regexp_replace({clean}, '{pat}', '{tok}', 'g')"
    def cnt(pat: str) -> str:
        return f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT)"
    return (f"SELECT doc_id, {clean} AS clean_text, "
            f"{cnt(EMAIL_RE)} AS n_emails, {cnt(IPV4_RE)} AS n_ips, "
            f"{cnt(PHONE_RE)} AS n_phones FROM {table}")


def pii_profile(docs: DataFrame) -> DataFrame:
    """Corpus-level PII exposure profile: per group (language, source, ...),
    how many documents carry each PII kind and the total span counts — the
    number a pipeline owner reads before deciding redaction policy.
    One groupBy over map-side-combined partial counts: a single shuffle of
    |groups| rows regardless of corpus size."""
    red = redact_pii(docs)
    joined = docs.select("doc_id", "lang").join(red, "doc_id")
    any_pii = ((F.col("n_emails") + F.col("n_ips") + F.col("n_phones")) > 0)
    return (joined.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(any_pii.cast("long")).alias("n_docs_with_pii"),
                 F.sum("n_emails").cast("long").alias("total_emails"),
                 F.sum("n_ips").cast("long").alias("total_ips"),
                 F.sum("n_phones").cast("long").alias("total_phones")))


def pii_profile_sql(table: str) -> str:
    inner = redact_pii_sql(table)
    return (f"SELECT g.lang, COUNT(*) AS n_docs, "
            f"CAST(SUM(CASE WHEN r.n_emails + r.n_ips + r.n_phones > 0 "
            f"THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii, "
            f"CAST(SUM(r.n_emails) AS BIGINT) AS total_emails, "
            f"CAST(SUM(r.n_ips) AS BIGINT) AS total_ips, "
            f"CAST(SUM(r.n_phones) AS BIGINT) AS total_phones "
            f"FROM ({inner}) r JOIN {table} g USING (doc_id) "
            f"GROUP BY g.lang")
