"""Text-analysis operators for web-scale training-data pipelines.

Hot paths are Column expressions (JVM, whole-stage codegen); the one Python
body is the ``mapInPandas`` ``_token_tf_batches`` behind the per-document
token counts of :func:`vocab_topk`, :func:`doc_top_terms` and
:func:`unigram_quality`.  Every operator has a DuckDB SQL twin emitter so the
oracle differential can verify it; both sides share the same constants.

Token model: whitespace split, empty tokens dropped (identical in Spark's
``split`` and DuckDB's ``string_split_regex``).  Per-token integers come from
the first 8 hex digits of md5 — the one hash both engines compute identically.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window, functions as F

from polycheck_spark.session import local_frame, spread

MOD = 1_000_000_007

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "dans", "pour", "que"],
}


def tokens_col(text_col):
    """Non-empty whitespace tokens (lower-cased)."""
    return F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")


def _tokens_sql(text_expr: str) -> str:
    return f"list_filter(string_split_regex(lower({text_expr}), '\\s+'), t -> t <> '')"


def _tok_int(col):
    """First 8 md5 hex digits as BIGINT — identical in both engines."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _tok_int_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


# --- token counting ---------------------------------------------------------

def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish alnum-run count per document."""
    toks = tokens_col(F.col("text"))
    bpe = F.filter(F.split(F.lower(F.col("text")), r"[^a-z0-9]+"), lambda t: t != "")
    return docs.select(
        F.col("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.length(F.col("text")).alias("n_chars"),
    )


def token_counts_sql(table: str) -> str:
    return f"""
SELECT doc_id,
       CAST(len({_tokens_sql("text")}) AS INT) AS n_tokens,
       CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS INT) AS n_bpe_tokens,
       CAST(length(text) AS INT) AS n_chars
FROM {table}
"""


# --- quality scoring ---------------------------------------------------------

def quality_scores(docs: DataFrame, keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Length / mean-token-length / stopword-ratio quality features.

    Ratios are returned as exact integer pairs (numerator, denominator) so the
    oracle comparison is float-drift-free.  ``keep_cols`` carries extra input
    columns through the projection so downstream consumers never need a
    corpus self-join to re-attach them.
    """
    toks = tokens_col(F.col("text"))
    stops = STOPWORDS["en"]
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*stops)))
    return docs.select(
        F.col("doc_id"),
        F.length(F.col("text")).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).alias("token_chars"),
        stop_hits.alias("stopword_hits"),
        *[F.col(c) for c in keep_cols],
    )


def quality_scores_sql(table: str, keep_cols: tuple[str, ...] = ()) -> str:
    stops = ", ".join(f"'{s}'" for s in STOPWORDS["en"])
    t = _tokens_sql("text")
    extra = "".join(f", {c}" for c in keep_cols)
    return f"""
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars,
       CAST(len({t}) AS INT) AS n_tokens,
       CAST(coalesce(list_sum(list_transform({t}, x -> length(x))), 0) AS INT) AS token_chars,
       CAST(len(list_filter({t}, x -> x in ({stops}))) AS INT) AS stopword_hits{extra}
FROM {table}
"""


# --- language identification --------------------------------------------------

# Unicode script ranges for non-Latin languages: a single char in one of
# these scripts is stronger evidence than any stopword count, so script
# votes take precedence over the Latin stopword vote.  Ranges are BMP-only
# (length() counts code points identically in Spark and DuckDB there) and
# the class literals are embedded as the same UTF-8 characters in both
# regex engines (Java util.regex and RE2 agree on literal-range classes).
SCRIPT_RANGES = {
    "zh": "一-鿿",     # CJK Unified Ideographs
    "ru": "Ѐ-ӿ",     # Cyrillic
    "ar": "؀-ۿ",     # Arabic
}

# a script vote only counts when the script holds at least num/den of ALL
# characters: one stray CJK char in a 10k-token English page must not
# classify zh (r4 review finding).  Rational threshold, integer
# cross-multiplication — no float boundary drift between engines.
SCRIPT_MIN_FRACTION = (1, 20)


def _script_chars(text_col, rng: str):
    """Count of characters inside the script range: strip everything else,
    measure what remains (one regexp pass per script)."""
    return F.length(F.regexp_replace(text_col, f"[^{rng}]", ""))


def _script_chars_sql(text_expr: str, rng: str) -> str:
    return f"length(regexp_replace({text_expr}, '[^{rng}]', '', 'g'))"


def lang_id(docs: DataFrame) -> DataFrame:
    """Language guess: script-range character votes for zh/ru/ar — a script
    vote counts only when its characters hold >= SCRIPT_MIN_FRACTION of the
    text (proportional gate: one stray CJK char in a long English page
    stays en), the densest qualifying script wins with tie-break
    zh > ru > ar — else the Latin stopword vote with deterministic
    tie-break en > de > fr.

    The significance gate preserves the vote ordering: an insignificant
    script is strictly sparser than any significant one (s_i*20 < n_chars
    <= s_j*20 => s_i < s_j), so adding the gate conjunct never lets a
    sparser script beat a denser significant one.

    Pure Column expressions both stages — no UDFs; the DuckDB twin
    (:func:`lang_id_sql`) evaluates the identical ranges, threshold, and
    stopword sets, so the whole operator is oracle-checkable."""
    num, den = SCRIPT_MIN_FRACTION
    n_chars = F.length(F.col("text"))
    toks = tokens_col(F.col("text"))
    hits = {lang: F.size(F.filter(toks, lambda t: t.isin(*words)))
            for lang, words in STOPWORDS.items()}
    sc = {lang: _script_chars(F.col("text"), rng)
          for lang, rng in SCRIPT_RANGES.items()}
    sig = {lang: (sc[lang] > 0) & (sc[lang] * den >= num * n_chars)
           for lang in SCRIPT_RANGES}
    guess = (F.when(sig["zh"] & (sc["zh"] >= sc["ru"]) & (sc["zh"] >= sc["ar"]), "zh")
              .when(sig["ru"] & (sc["ru"] >= sc["ar"]), "ru")
              .when(sig["ar"], "ar")
              .when((hits["en"] >= hits["de"]) & (hits["en"] >= hits["fr"]), "en")
              .when(hits["de"] >= hits["fr"], "de")
              .otherwise("fr"))
    return docs.select(F.col("doc_id"), guess.alias("lang_guess"),
                       hits["en"].alias("en_hits"), hits["de"].alias("de_hits"),
                       hits["fr"].alias("fr_hits"),
                       sc["zh"].alias("zh_chars"), sc["ru"].alias("ru_chars"),
                       sc["ar"].alias("ar_chars"))


def lang_id_sql(table: str) -> str:
    num, den = SCRIPT_MIN_FRACTION
    t = _tokens_sql("text")
    h = {lang: f"len(list_filter({t}, x -> x in ({', '.join(repr(w) for w in words)})))"
         for lang, words in STOPWORDS.items()}
    s = {lang: _script_chars_sql("text", rng)
         for lang, rng in SCRIPT_RANGES.items()}
    g = {lang: f"({s[lang]} > 0 AND {s[lang]} * {den} >= {num} * length(text))"
         for lang in SCRIPT_RANGES}
    return f"""
SELECT doc_id,
       CASE WHEN {g['zh']} AND {s['zh']} >= {s['ru']} AND {s['zh']} >= {s['ar']} THEN 'zh'
            WHEN {g['ru']} AND {s['ru']} >= {s['ar']} THEN 'ru'
            WHEN {g['ar']} THEN 'ar'
            WHEN {h['en']} >= {h['de']} AND {h['en']} >= {h['fr']} THEN 'en'
            WHEN {h['de']} >= {h['fr']} THEN 'de'
            ELSE 'fr' END AS lang_guess,
       CAST({h['en']} AS INT) AS en_hits,
       CAST({h['de']} AS INT) AS de_hits,
       CAST({h['fr']} AS INT) AS fr_hits,
       CAST({s['zh']} AS INT) AS zh_chars,
       CAST({s['ru']} AS INT) AS ru_chars,
       CAST({s['ar']} AS INT) AS ar_chars
FROM {table}
"""


# --- corpus vocabulary ---------------------------------------------------------

def _doc_token_tf(docs: DataFrame, tf_name: str = "tf") -> DataFrame:
    """(doc_id, token, tf) — per-(document, token) counts computed
    MAP-SIDE: a document's tokens live in its own row, so the former
    explode -> groupBy(id, token) shipped the full token stream through an
    exchange to compute counts that never cross documents.  Tokenization
    stays the JVM split (bit-identical token stream); each Arrow batch
    counts per-doc tokens in NumPy.  Counts are integers and token strings
    identical, so every consumer's oracle is untouched; downstream
    aggregations see the same rows with one fewer corpus-sized shuffle.

    Shared by :func:`vocab_topk`, :func:`doc_top_terms` and
    :func:`unigram_quality`."""
    src = docs.select(F.col("doc_id").alias("id"),
                      tokens_col(F.col("text")).alias("toks"))
    src = spread(src)
    return (src.mapInPandas(functools.partial(_token_tf_batches, tf_name),
                            f"id long, token string, {tf_name} long")
            .withColumnRenamed("id", "doc_id"))


def _token_tf_batches(tf_name: str, batches):
    """``mapInPandas`` body of :func:`_doc_token_tf`.  Module-level, not a
    closure: a worker then imports this module to unpickle it, which installs
    the package's zip-cache fix (see ``polycheck_spark``)."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        lens = np.fromiter((len(t) for t in pdf["toks"]),
                           dtype=np.int64, count=len(pdf))
        keep = lens > 0
        if not keep.any():
            continue
        ids = pdf["id"].to_numpy(dtype=np.int64)[keep]
        lens = lens[keep]
        flat = np.concatenate([np.asarray(t, dtype=object)
                               for t in pdf["toks"][keep]])
        codes, uniq = pd.factorize(flat)
        doc_idx = np.repeat(np.arange(len(ids), dtype=np.int64), lens)
        packed = doc_idx * len(uniq) + codes
        pk, tf = np.unique(packed, return_counts=True)
        yield pd.DataFrame({
            "id": ids[pk // len(uniq)],
            "token": uniq[pk % len(uniq)],
            tf_name: tf.astype(np.int64),
        })



def vocab_topk(docs: DataFrame, k: int) -> DataFrame:
    """Corpus top-k vocabulary by document frequency: (token, doc_freq,
    occurrences, rank) — the vocabulary-build step of a training-data
    pipeline.

    Shape for scale: explode tokens -> per-(doc, token) count (first
    shuffle, map-side combined — a doc's repeated tokens collapse before
    the exchange) -> per-token (doc_freq, occurrences) (second shuffle over
    at most |vocab| x partitions pre-combined rows) -> top-k via
    ``orderBy().limit(k)``, which Spark executes as TakeOrdered: each
    partition keeps its own k, the driver merges k x partitions — the
    vocabulary (which can be 10^8 tokens on web text) is never sorted
    globally, and the rank window runs over the k survivors only.
    Deterministic tie-break: doc_freq desc, occurrences desc, token asc.
    """
    tok = _doc_token_tf(docs, tf_name="n")
    vocab = (tok.groupBy("token")
             .agg(F.count(F.lit(1)).alias("doc_freq"),
                  F.sum("n").alias("occurrences")))
    order = [F.col("doc_freq").desc(), F.col("occurrences").desc(),
             F.col("token").asc()]
    topk = vocab.orderBy(*order).limit(k)
    w = Window.orderBy(*order)
    return (topk.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("token", "doc_freq", "occurrences", "rank"))


def vocab_topk_sql(table: str, k: int) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_tokens_sql("text")}) AS token FROM {table}
),
per_doc AS (SELECT doc_id, token, COUNT(*) AS n FROM tok GROUP BY 1, 2),
vocab AS (SELECT token, COUNT(*) AS doc_freq, CAST(SUM(n) AS BIGINT) AS occurrences
          FROM per_doc GROUP BY 1)
SELECT token, doc_freq, occurrences,
       CAST(ROW_NUMBER() OVER (ORDER BY doc_freq DESC, occurrences DESC, token ASC) AS BIGINT) AS rank
FROM vocab
QUALIFY rank <= {k}
"""


# --- per-document keyword extraction --------------------------------------------

def doc_top_terms(docs: DataFrame, k: int) -> DataFrame:
    """Per-document top-k DISTINCTIVE terms: rank by (doc_freq asc,
    tf desc, token asc) — corpus-rarest first, in-document frequency
    breaking ties — so ubiquitous tokens (stopwords) rank LAST, which is
    the idf-dominant behavior a keyword extractor needs.  The ordering is
    pure integers, so both engines sort identically (a float tf*idf
    weight would hit cross-engine log() last-ulp differences; note it
    would also rank differently — true tf*log(N/df) trades tf against
    rarity, which no lexicographic integer order reproduces — this
    operator deliberately picks the rarity-first lexicographic contract).

    Shape for scale: the per-(doc, token) tf table and the per-token
    doc_freq table are both map-side-combined aggregations; their equi-join
    shuffles on token (pre-aggregated rows, not the corpus), and the final
    window partitions by DOCUMENT — per-partition sorts of per-doc term
    lists, never a global sort.  Emits (doc_id, token, tf, doc_freq,
    term_rank).
    """
    tok = _doc_token_tf(docs)
    dfreq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("doc_freq").asc(), F.col("tf").desc(), F.col("token").asc())
    return (tok.join(dfreq, "token")
            .withColumn("term_rank", F.row_number().over(w).cast("long"))
            .filter(F.col("term_rank") <= k)
            .select("doc_id", "token", "tf", "doc_freq", "term_rank"))


def doc_top_terms_sql(table: str, k: int) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_tokens_sql("text")}) AS token FROM {table}
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY 1)
SELECT doc_id, token, tf, doc_freq,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY doc_freq ASC, tf DESC, token ASC) AS BIGINT) AS term_rank
FROM tf JOIN dfreq USING (token)
QUALIFY term_rank <= {k}
"""


# --- per-source corpus stats ----------------------------------------------------

def source_stats(docs: DataFrame) -> DataFrame:
    """Per-source corpus profile: doc count, distinct languages, exact total
    tokens, and the distinct-text count (its gap to n_docs is the
    within-source exact-duplicate mass).  One shuffle; the md5 rides the
    map side."""
    toks = tokens_col(F.col("text"))
    return (docs.select("source", "lang",
                        F.size(toks).alias("n_toks"),
                        F.md5(F.col("text")).alias("text_md5"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.sum("n_toks").cast("long").alias("sum_tokens"),
                 F.countDistinct("text_md5").alias("n_distinct_texts"))
            .orderBy("source"))


def source_stats_sql(table: str) -> str:
    t = _tokens_sql("text")
    return f"""
SELECT source AS source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(len({t})) AS BIGINT) AS sum_tokens,
       COUNT(DISTINCT md5(text)) AS n_distinct_texts
FROM {table}
GROUP BY 1 ORDER BY 1
"""


# --- boilerplate-line removal ----------------------------------------------------

def line_frequencies(docs: DataFrame) -> DataFrame:
    """(line, line_df): per-line document frequency — repeats of a line
    WITHIN one document count once (the C4-style boilerplate statistic).
    Two map-side-combined shuffles over (doc, line) pairs; the line table
    is at most the corpus's line count, never a cross product."""
    parts = F.split(F.col("text"), "\n", -1)
    pairs = (docs.select(F.col("doc_id").alias("id"), F.explode(parts).alias("line"))
             .distinct())
    return pairs.groupBy("line").agg(F.count(F.lit(1)).alias("line_df"))


def strip_boilerplate(docs: DataFrame, max_line_df: int, *,
                      id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """C4-style boilerplate-line removal: drop every line that appears in
    MORE than ``max_line_df`` documents (cookie banners, nav bars, terms
    footers), reassemble the rest in original order.  Emits
    (id, n_lines, n_lines_kept, clean_text); a fully-boilerplate document
    keeps an empty clean_text rather than disappearing.

    Shape for scale: the source is scanned exactly TWICE — once for the
    line-df aggregation and once for the line rows (plan-pinned); every
    doc splits to >= 1 line (the empty string splits to ['']), so hotness
    rides a LEFT join flag and ONE groupBy produces total count, kept
    count, and the reassembled text together — no third scan for a base
    table, no docs lost when every line is boilerplate.  The hot-line
    table (df > cap) is corpus/cap-bounded; reassembly sorts (pos, line)
    structs per document — no global sort, no UDFs anywhere.
    (Checkpointing the exploded lines would reach one scan, but lines ARE
    the corpus — re-reading columnar parquet beats materializing them.)
    """
    parts = F.split(F.col(text_col), "\n", -1)
    lines = docs.select(F.col(id_col).alias("id"),
                        F.posexplode(parts).alias("pos", "line"))
    dfreq = (lines.select("id", "line").distinct()
             .groupBy("line").agg(F.count(F.lit(1)).alias("line_df")))
    hot = (dfreq.filter(F.col("line_df") > max_line_df)
           .select("line", F.lit(True).alias("__hot")))
    # hot is cap-bounded tiny by construction (<= line_occurrences /
    # max_line_df rows): pin the broadcast so an AQE stats misestimate can
    # never demote this to a shuffle of the full line relation — at 100x
    # the line table IS the corpus (plan-pinned in test_plans.py)
    marked = lines.join(F.broadcast(hot), "line", "left")
    keep = F.col("__hot").isNull()
    ordered = F.transform(
        F.array_sort(F.collect_list(
            F.when(keep, F.struct(F.col("pos"), F.col("line"))))),
        lambda x: x["line"])
    return (marked.groupBy("id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_lines"),
                 F.count(F.when(keep, F.lit(1))).cast("int").alias("n_lines_kept"),
                 F.array_join(ordered, "\n").alias("clean_text"))
            .select(F.col("id").alias(id_col), "n_lines", "n_lines_kept",
                    "clean_text"))


def _delim_sql(delim: str) -> str:
    if delim == "\n":
        return "chr(10)"
    return "'" + delim.replace("'", "''") + "'"


def line_frequencies_sql(table: str) -> str:
    d = _delim_sql("\n")
    return f"""
SELECT line, COUNT(*) AS line_df
FROM (SELECT DISTINCT doc_id AS id, unnest(string_split(text, {d})) AS line
      FROM {table})
GROUP BY 1
"""


def strip_boilerplate_sql(table: str, max_line_df: int) -> str:
    """DuckDB twin of :func:`strip_boilerplate` (same df statistic, same
    positional reassembly via ORDER BY pos inside string_agg)."""
    d = _delim_sql("\n")
    return f"""
WITH bp_parts AS (SELECT doc_id AS id, string_split(text, {d}) AS pl FROM {table}),
bp_lines AS (
  SELECT id, s AS pos, pl[s] AS line
  FROM (SELECT id, pl, unnest(generate_series(1, len(pl))) AS s FROM bp_parts)),
bp_hot AS (
  SELECT line FROM (SELECT DISTINCT id, line FROM bp_lines)
  GROUP BY line HAVING COUNT(*) > {max_line_df}),
bp_kept AS (SELECT * FROM bp_lines WHERE line NOT IN (SELECT line FROM bp_hot)),
bp_agg AS (
  SELECT id, COUNT(*) AS n_lines_kept,
         string_agg(line, {d} ORDER BY pos) AS clean_text
  FROM bp_kept GROUP BY id)
SELECT p.id AS doc_id,
       CAST(len(p.pl) AS INT) AS n_lines,
       CAST(coalesce(a.n_lines_kept, 0) AS INT) AS n_lines_kept,
       coalesce(a.clean_text, '') AS clean_text
FROM bp_parts p LEFT JOIN bp_agg a USING (id)
"""


# --- Gopher-style repetition signals ---------------------------------------

def repetition_signals(docs: DataFrame) -> DataFrame:
    """Per-document repetition profile (the Gopher quality-filter family):

    - ``n_lines`` / ``n_dup_lines``: newline-split line count and the
      Gopher "duplicate line fraction" numerator — NON-FIRST occurrences
      only, i.e. ``sum(freq - 1)`` over distinct repeated lines, computed
      in closed form as ``n_lines - n_distinct_lines``;
    - ``dup_line_chars`` / ``n_chars``: character mass of those non-first
      duplicate instances vs the whole doc ("fraction of characters in
      duplicate lines" — total line chars minus distinct-line chars);
    - ``n_bigrams`` / ``top_bigram_count``: word-bigram total and the
      frequency of the most repeated bigram ("top-2-gram fraction");
    - ``repetitive``: the Gopher gate — duplicate-line fraction over 30%
      OR duplicate-line-char fraction over 20% (integer
      cross-multiplication, so the flag is exact in both engines).

    All counts are integers, so the oracle comparison is exact — no float
    ratios cross the engine boundary; callers form fractions themselves.

    Scale design: pure per-row Column lambda work (``transform`` /
    ``aggregate`` higher-order functions) — no Python, no shuffle, linear
    in corpus size.  The dup-line counts are set-difference arithmetic
    (``array_distinct``), O(lines) per doc; only the top-bigram run scan
    is O(n log n) per DOCUMENT, bounded by page length — the per-row
    constant a 10^12-doc map stage absorbs; nothing global is built
    (contrast :func:`line_frequencies`, the corpus-wide twin).
    """
    t = F.col("text")
    lines = F.split(t, "\n")
    dlines = F.array_distinct(lines)
    line_chars = lambda arr: F.aggregate(
        arr, F.lit(0), lambda acc, x: acc + F.length(x))
    n_dup = F.size(lines) - F.size(dlines)
    dup_chars = line_chars(lines) - line_chars(dlines)
    toks = tokens_col(t)
    n_tok = F.size(toks)
    bigrams = F.when(n_tok >= 2, F.transform(
        F.sequence(F.lit(1), n_tok - 1),
        lambda i: F.concat_ws(" ", F.element_at(toks, i),
                              F.element_at(toks, i + 1)))
    ).otherwise(F.array().cast("array<string>"))
    # top frequency via sorted-adjacency run length — O(n log n) per doc,
    # NOT the O(n^2) per-element frequency probe (measured 20x slower on
    # page-sized docs); bigrams are never '', so '' is a safe initial prev

    def _run(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    top_bg = F.aggregate(
        F.array_sort(bigrams),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        _run, lambda acc: acc["best"])
    n_lines, n_bg = F.size(lines), F.size(bigrams)
    repetitive = ((n_dup * 10 > n_lines * 3) |
                  (dup_chars * 5 > F.length(t) * 1))
    return docs.select(
        F.col("doc_id"),
        n_lines.cast("int").alias("n_lines"),
        n_dup.cast("int").alias("n_dup_lines"),
        dup_chars.cast("int").alias("dup_line_chars"),
        F.length(t).cast("int").alias("n_chars"),
        n_bg.cast("int").alias("n_bigrams"),
        top_bg.cast("int").alias("top_bigram_count"),
        repetitive.alias("repetitive"))


def repetition_signals_sql(table: str) -> str:
    """DuckDB twin of :func:`repetition_signals` — same split, same
    tokenizer, same integer gates (list lambdas mirror the Column HOFs)."""
    t = "text"
    lines = f"string_split({t}, chr(10))"
    chars = lambda arr: (f"coalesce(list_sum(list_transform({arr}, "
                         f"x -> length(x))), 0)")
    # Gopher freq-1 counting in closed form: instances minus distinct
    # (string_split yields no NULLs, so list_distinct drops nothing else)
    n_dup = f"(len({lines}) - len(list_distinct({lines})))"
    dup_chars = f"({chars(lines)} - {chars(f'list_distinct({lines})')})"
    toks = _tokens_sql(t)
    bigrams = (f"CASE WHEN len(tl) >= 2 THEN list_transform("
               f"range(1, len(tl)), i -> tl[i] || ' ' || tl[i + 1]) "
               f"ELSE [] END")
    # top bigram frequency relationally (unnest -> group -> max): linear
    # work instead of the quadratic per-element list_filter probe
    return f"""
WITH rep_base AS (
  SELECT doc_id, len({lines}) AS n_lines, {n_dup} AS n_dup,
         {dup_chars} AS dup_chars, length({t}) AS n_chars,
         {bigrams} AS bg
  FROM (SELECT doc_id, {t}, {toks} AS tl FROM {table})),
rep_top AS (
  SELECT doc_id, MAX(c) AS top_bg FROM (
    SELECT doc_id, b, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(bg) AS b FROM rep_base)
    GROUP BY doc_id, b)
  GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.n_lines AS INT) AS n_lines,
       CAST(b.n_dup AS INT) AS n_dup_lines,
       CAST(b.dup_chars AS INT) AS dup_line_chars,
       CAST(b.n_chars AS INT) AS n_chars,
       CAST(len(b.bg) AS INT) AS n_bigrams,
       CAST(coalesce(t.top_bg, 0) AS INT) AS top_bigram_count,
       (b.n_dup * 10 > b.n_lines * 3 OR b.dup_chars * 5 > b.n_chars * 1)
         AS repetitive
FROM rep_base b LEFT JOIN rep_top t USING (doc_id)
"""


# --- document fingerprint ------------------------------------------------------

def fingerprints(docs: DataFrame) -> DataFrame:
    """Order-sensitive document fingerprint:
    ``sum_i((i + 1) * tok_int(t_i)) % MOD`` — position-weighted token hash.

    Computed as a pure higher-order expression (zip tokens with their
    1-based positions, fold the modular terms): a per-document fold needs
    no explode + groupBy, which at 10^12 docs was a full shuffle of the
    TOKEN table — the corpus's dominant relation — for a value each row
    can produce locally.  Each term is reduced mod MOD (~2^30) before
    summing, so the int64 accumulator cannot overflow below ~8e9 tokens
    per document; addition order matches the former aggregation because
    the modular sum is commutative and never overflows.
    """
    toks = tokens_col(F.col("text"))
    t = F.col("__toks")
    # sequence(1, 0) would DESCEND (Spark infers step -1), so the empty
    # token array is short-circuited instead of zipped
    term_arr = F.zip_with(
        t, F.sequence(F.lit(1), F.greatest(F.size(t), F.lit(1))),
        lambda tok, i: F.pmod(i * F.pmod(_tok_int(tok), F.lit(MOD)), F.lit(MOD)))
    fp = F.when(F.size(t) > 0,
                F.pmod(F.aggregate(term_arr, F.lit(0).cast("long"),
                                   lambda acc, v: acc + v), F.lit(MOD))) \
         .otherwise(F.lit(0).cast("long"))
    return (docs.withColumn("__toks", toks)
            .select(F.col("doc_id"), fp.alias("fingerprint")))


def fingerprints_sql(table: str) -> str:
    t = _tokens_sql("text")
    return f"""
WITH toks AS (SELECT doc_id, {t} AS tl FROM {table}),
pos AS (
  SELECT doc_id, tl[posn] AS tok, posn - 1 AS pos
  FROM (SELECT doc_id, tl, unnest(generate_series(1, len(tl))) AS posn FROM toks)
)
SELECT t.doc_id, coalesce(s.fp, 0) AS fingerprint
FROM toks t
LEFT JOIN (
  SELECT doc_id,
         CAST(SUM(((pos + 1) * ({_tok_int_sql('tok')} % {MOD})) % {MOD}) % {MOD} AS BIGINT) AS fp
  FROM pos GROUP BY doc_id
) s USING (doc_id)
"""


# --- ranked retrieval --------------------------------------------------------

IDF_SCALE = 10**9


def search_topk(docs: DataFrame, terms: list[str], k: int) -> DataFrame:
    """Top-k documents for a bag-of-terms query under integer TF-IDF
    scoring — the ad-hoc corpus-exploration query every dataset owner
    runs ("show me the docs about X").

    score(d) = sum over query terms t of tf(t, d) * (IDF_SCALE div df(t)):
    floor-divided integer idf weights, so scores are exact 64-bit integers
    and the ranking (score desc, id asc) is bit-deterministic across
    engines — no log() crosses the oracle boundary.  Terms absent from
    the corpus contribute nothing (their df relation is empty; no 0-div).

    Scale shape: the explode is filtered to the query terms BEFORE any
    shuffle (array_intersect-style member filter), so the shuffled
    relation is bounded by query-term postings, not corpus tokens; df and
    the per-term weights derive from that same tiny relation, broadcast
    back; the final top-k is a TakeOrdered, never a global sort.
    """
    arr = F.array([F.lit(t) for t in terms])
    tok = (docs.select("doc_id",
                       F.explode(F.filter(tokens_col(F.col("text")),
                                          lambda t: F.array_contains(arr, t)))
                       .alias("term")))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = df_.select("term", F.expr(f"{IDF_SCALE} div df").alias("w"))
    scored = (tf.join(F.broadcast(w), "term")
              .groupBy("doc_id")
              .agg(F.sum(F.col("tf") * F.col("w")).cast("long").alias("score")))
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def search_topk_sql(table: str, terms: list[str], k: int) -> str:
    """DuckDB twin of :func:`search_topk` — same integer weights, same
    tie-break."""
    lits = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
WITH st_tok AS (
  SELECT doc_id, unnest(list_filter({_tokens_sql("text")},
                                      t -> t IN ({lits}))) AS term
  FROM {table}),
st_tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM st_tok GROUP BY 1, 2),
st_w AS (SELECT term, {IDF_SCALE} // COUNT(*) AS w FROM st_tf GROUP BY 1)
SELECT doc_id, CAST(SUM(tf * w) AS BIGINT) AS score
FROM st_tf JOIN st_w USING (term)
GROUP BY 1 ORDER BY score DESC, doc_id LIMIT {k}
"""


# --- corpus-frequency quality (CCNet-style LM-quality proxy) ----------------

def unigram_quality(docs: DataFrame) -> DataFrame:
    """Per-document mean corpus-frequency of its tokens, with an
    integer-exact above/below-corpus-mean verdict — the bit-exact stand-in
    for CCNet's LM-perplexity bucket filter (docs made of corpus-rare
    tokens score low, like high-perplexity gibberish; docs made of
    ubiquitous tokens score high).

    Shape for scale: explode -> per-(doc, token) tf (map-side combined, a
    doc's repeats collapse before the exchange) -> token totals as a SECOND
    agg over the tf table (vocabulary-sized, far smaller than the token
    stream) -> tf-vocab equi-join shuffling pre-aggregated rows on token
    (AQE handles the stopword skew) -> per-doc agg on the doc key.  The
    corpus-mean comparison broadcasts a ONE-ROW totals frame — never a
    global sort (an ntile/percent_rank bucketing would single-partition
    the corpus).

    Exactness: every accumulation is BIGINT (no double sums anywhere);
    the verdict compares freq_sum * total_toks >= total_freq * n_toks in
    DECIMAL(38,0); ``mean_freq`` is one IEEE division, bit-identical
    across engines.  Headroom: per-doc freq_sum <= n_toks x max token
    count (~1e11 at 1e8 docs); the DECIMAL(38,0) cross-products carry
    that to ~1e19 x 1e19 before precision loss — beyond any single-corpus
    deployment this engine targets.
    """
    # the tf table feeds two consumers (vocab totals + the scoring join)
    # and per_doc feeds two more (corpus totals + the result) — Spark
    # re-executes shared subtrees per branch, so without checkpoints this
    # plan scans the corpus FOUR times (plan-measured).  Lazy
    # localCheckpoints materialize each once; the ContextCleaner reclaims
    # them when the result frame is garbage-collected (the
    # dedup/_shingles idiom).
    tf = (_doc_token_tf(docs)
          .withColumnRenamed("token", "tok")
          .localCheckpoint(eager=False))
    tf = tf.select(*[F.col(c).alias(c) for c in tf.columns])
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    per_doc = (tf.join(vocab, "tok")
               .groupBy("doc_id")
               .agg(F.sum(F.col("tf") * F.col("cnt")).alias("freq_sum"),
                    F.sum("tf").alias("n_toks"))
               .localCheckpoint(eager=False))
    per_doc = per_doc.select(*[F.col(c).alias(c) for c in per_doc.columns])
    totals = per_doc.agg(F.sum("freq_sum").alias("total_freq"),
                         F.sum("n_toks").alias("total_toks"))

    def d(c):
        return F.col(c).cast("decimal(38,0)")

    return (per_doc.crossJoin(F.broadcast(totals))
            .select(F.col("doc_id"),
                    F.col("freq_sum"),
                    F.col("n_toks"),
                    (F.col("freq_sum").cast("double")
                     / F.col("n_toks").cast("double")).alias("mean_freq"),
                    (d("freq_sum") * d("total_toks")
                     >= d("total_freq") * d("n_toks"))
                    .cast("int").alias("above_mean")))


def unigram_quality_sql(table: str) -> str:
    """DuckDB twin of :func:`unigram_quality` — same BIGINT accumulations,
    same DECIMAL(38,0) cross-product verdict, same single division."""
    return f"""
WITH uq_tok AS (
  SELECT doc_id, unnest({_tokens_sql("text")}) AS tok FROM {table}
),
uq_tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM uq_tok GROUP BY 1, 2),
uq_vocab AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS cnt FROM uq_tf GROUP BY 1),
uq_doc AS (
  SELECT doc_id,
         CAST(SUM(tf * cnt) AS BIGINT) AS freq_sum,
         CAST(SUM(tf) AS BIGINT) AS n_toks
  FROM uq_tf JOIN uq_vocab USING (tok) GROUP BY 1
),
uq_tot AS (SELECT CAST(SUM(freq_sum) AS BIGINT) AS total_freq,
                  CAST(SUM(n_toks) AS BIGINT) AS total_toks FROM uq_doc)
SELECT doc_id, freq_sum, n_toks,
       CAST(freq_sum AS DOUBLE) / CAST(n_toks AS DOUBLE) AS mean_freq,
       CAST(CAST(freq_sum AS DECIMAL(38,0)) * CAST(total_toks AS DECIMAL(38,0))
            >= CAST(total_freq AS DECIMAL(38,0)) * CAST(n_toks AS DECIMAL(38,0))
            AS INT) AS above_mean
FROM uq_doc, uq_tot
"""


# --- OOV rate against a bounded vocabulary ------------------------------------

def oov_stats(docs: DataFrame, vocab_size: int) -> DataFrame:
    """Per doc: token count and out-of-vocabulary token count against the
    corpus's own top-``vocab_size`` vocabulary (by occurrences) —
    ``(id, n_tokens, n_oov)``.  ``n_oov / n_tokens`` is the OOV rate used
    to size tokenizer vocabularies and to flag gibberish/byte-noise pages
    (a clean page's tokens are overwhelmingly head-vocabulary; OCR junk and
    binary-in-text pages are mostly tail).

    Shape for scale: the vocabulary is token-keyed counting (map-side
    combined, linear) + TakeOrdered for the top slice — never a global
    sort — and the per-doc pass is explode -> BROADCAST hash join against
    the ``vocab_size``-row table (pinned; vocab_size is a config constant,
    so the build side is bounded by construction) -> doc-keyed count.  The
    corpus is touched twice (vocab build, scoring) — in production the
    vocabulary is built once and reused across scoring runs.
    Deterministic tie-break at the vocabulary cut: occurrences desc, token
    asc.  Zero-token docs keep ``0/0`` via a left join from the doc ids.
    """
    tok = docs.select(F.col("doc_id").alias("id"),
                      F.explode(tokens_col(F.col("text"))).alias("token"))
    vocab = (tok.groupBy("token").agg(F.count(F.lit(1)).alias("occ"))
             .orderBy(F.col("occ").desc(), F.col("token").asc())
             .limit(vocab_size)
             .select("token", F.lit(True).alias("__in_vocab")))
    scored = (tok.join(F.broadcast(vocab), "token", "left")
              .groupBy("id")
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   F.count(F.when(F.col("__in_vocab").isNull(), 1))
                   .alias("n_oov")))
    ids = docs.select(F.col("doc_id").alias("id"))
    return (ids.join(scored, "id", "left")
            .select(F.col("id").alias("doc_id"),
                    F.coalesce("n_tokens", F.lit(0).cast("long"))
                    .alias("n_tokens"),
                    F.coalesce("n_oov", F.lit(0).cast("long"))
                    .alias("n_oov")))


def oov_stats_sql(table: str, vocab_size: int) -> str:
    """DuckDB twin of :func:`oov_stats` (same vocabulary cut and
    tie-break; conditional COUNT stays BIGINT)."""
    return f"""
WITH ov_tok AS (
  SELECT doc_id AS id, unnest({_tokens_sql("text")}) AS token
  FROM {table}),
ov_vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS occ FROM ov_tok GROUP BY token)
  QUALIFY ROW_NUMBER() OVER (ORDER BY occ DESC, token ASC) <= {vocab_size}),
ov_doc AS (
  SELECT t.id, COUNT(*) AS n_tokens,
         COUNT(CASE WHEN v.token IS NULL THEN 1 END) AS n_oov
  FROM ov_tok t LEFT JOIN ov_vocab v USING (token) GROUP BY t.id)
SELECT d.doc_id AS doc_id,
       coalesce(o.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
       coalesce(o.n_oov, CAST(0 AS BIGINT)) AS n_oov
FROM {table} d LEFT JOIN ov_doc o ON o.id = d.doc_id
"""


# --- linear quality-classifier inference ---------------------------------------
# The fastText-style "model filter" stage of a webtext pipeline, reduced to
# its relational core: a small per-language weight table (the trained model)
# joined onto per-doc integer features, one dot product per doc, keep iff the
# margin clears the bias.  All-integer arithmetic (weights are fixed-point
# ints) so the decision boundary is bit-identical across
# engines — the floating sigmoid is monotone in the margin, so thresholding
# the integer margin IS thresholding the probability.

#: per-language weight rows: (lang, w_chars, w_tokens, w_stop, bias).
#: A doc passes when
#:   w_chars*n_chars + w_tokens*n_tokens + w_stop*stopword_hits + bias > 0.
#: Unknown langs fall back to the '*' row.
QUALITY_WEIGHTS = [
    ("en", 1, 40, 25, -2600),
    ("de", 1, 40, 5, -2200),
    ("fr", 1, 40, 5, -2200),
    ("zh", 3, 10, 0, -1800),
    ("*", 1, 30, 10, -2400),
]


def quality_classify(docs: DataFrame) -> DataFrame:
    """Per-language linear classifier over the integer quality features.

    Output: (id, lang, margin BIGINT, keep BOOLEAN).  The weight table is
    model-as-data: a handful of rows, broadcast-joined by language with a
    '*' fallback row (left join + coalesce onto the fallback's literals),
    so retraining swaps a table, not a plan.  The corpus is scanned once,
    features are whole-stage-codegen Column expressions, the join build
    side is O(|langs|) — no shuffle OR join keyed on docs at any point
    (the lang column rides the feature projection itself; plan-pinned).
    """
    fb = next(r[1:] for r in QUALITY_WEIGHTS if r[0] == "*")
    wdf = local_frame(
        docs.sparkSession, [r for r in QUALITY_WEIGHTS if r[0] != "*"],
        "lang string, w_chars long, w_tokens long, w_stop long, bias long")
    feats = quality_scores(docs, keep_cols=("lang",))
    j = feats.join(F.broadcast(wdf), on="lang", how="left")
    margin = (
        F.coalesce(F.col("w_chars"), F.lit(fb[0])) * F.col("n_chars")
        + F.coalesce(F.col("w_tokens"), F.lit(fb[1])) * F.col("n_tokens")
        + F.coalesce(F.col("w_stop"), F.lit(fb[2])) * F.col("stopword_hits")
        + F.coalesce(F.col("bias"), F.lit(fb[3]))).cast("long")
    return (j.withColumn("margin", margin)
            .select(F.col("doc_id"), F.col("lang"), F.col("margin"),
                    (F.col("margin") > 0).alias("keep")))


def quality_classify_sql(table: str) -> str:
    fb = next(r[1:] for r in QUALITY_WEIGHTS if r[0] == "*")
    vals = ", ".join(f"('{l}', {a}, {b}, {c}, {d})"
                     for l, a, b, c, d in QUALITY_WEIGHTS if l != "*")
    return f"""
WITH w(lang, w_chars, w_tokens, w_stop, bias) AS (VALUES {vals}),
f AS ({quality_scores_sql(table, keep_cols=("lang AS lang",))})
SELECT doc_id, lang,
       CAST(coalesce(w.w_chars, {fb[0]}) * n_chars
          + coalesce(w.w_tokens, {fb[1]}) * n_tokens
          + coalesce(w.w_stop, {fb[2]}) * stopword_hits
          + coalesce(w.bias, {fb[3]}) AS BIGINT) AS margin,
       (coalesce(w.w_chars, {fb[0]}) * n_chars
          + coalesce(w.w_tokens, {fb[1]}) * n_tokens
          + coalesce(w.w_stop, {fb[2]}) * stopword_hits
          + coalesce(w.bias, {fb[3]})) > 0 AS keep
FROM f LEFT JOIN w USING (lang)
"""
