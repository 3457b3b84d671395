"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Operators compose DataFrames (JVM expressions + shuffles Catalyst can see);
the row path enters Python only in four ``mapInPandas`` bodies:
``_gram_batches`` (shingles), ``_minhash_batches`` (MinHash signatures),
``_simhash_wide_batches`` (SimHash wider than 32 bits) and
``_containment_batches`` (containment scoring).  Each operator has a DuckDB
SQL twin.

Scale notes (10^12 docs):
* exact dedup is a hash groupBy — one shuffle on the digest, map-side partial
  aggregation for the counts;
* MinHash/LSH shuffles (doc, band_signature) pairs: candidate generation is
  an equi-join on the band key, never an all-pairs product;
* n-gram Jaccard full-pair scoring is quadratic per shared shingle — it is the
  *verification* stage run on LSH candidates, not the discovery stage;
* SimHash is one narrow projection (groupBy doc over 16 bit positions).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, functions as F

from polycheck_spark.operators.text import tokens_col, _tokens_sql, _tok_int, _tok_int_sql
from polycheck_spark.session import spread

NGRAM = 3
N_MINHASH = 16
BAND_SIZE = 4
N_BANDS = N_MINHASH // BAND_SIZE
SIMHASH_BITS = 16


# --- exact dedup -------------------------------------------------------------

def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts: (text_md5, n_dups, min_id)."""
    return (docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
            .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("min_id"))
            .filter(F.col("n_dups") > 1))


def exact_duplicates_sql(table: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    return f"""
SELECT md5({text_col}) AS text_md5, COUNT(*) AS n_dups, MIN({id_col}) AS min_id
FROM {table} GROUP BY 1 HAVING COUNT(*) > 1
"""


def digest_bucket_col(md5_col, n_buckets: int):
    """Work bucket of a hex md5 digest Column: its first 8 hex digits mod
    ``n_buckets``.  Byte-identical texts share a digest, so they share a
    bucket, which makes per-bucket exact dedup globally exact."""
    return F.pmod(F.conv(F.substring(md5_col, 1, 8), 16, 10).cast("long"),
                  F.lit(n_buckets)).cast("int")


# --- shingles ----------------------------------------------------------------

def _shingles(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Word-NGRAM shingles per doc as a set: (id, shingle) rows are unique.
    Set semantics is what Jaccard counting needs, and MinHash's
    min-aggregation does not care either way.

    r8: grams are built MAP-SIDE in Python batches.  The former
    ``transform(sequence, i -> concat_ws(slice))`` ran as an interpreted
    lambda per gram (Spark never codegens HOFs — 14.9 s at sf1.0 for the
    2.6M-shingle corpus), and a global distinct then paid a full exchange
    of the shingle relation.  Tokenization stays the JVM split
    (bit-identical token stream); ``' '.join`` builds the identical gram
    strings, and the per-doc set dedup IS the global distinct — (id,
    shingle) is unique once each doc's shingles are, so the distinct
    shuffle disappears entirely.  Same rows, same strings, same oracle."""
    src = docs.select(F.col(id_col).alias("id"),
                      tokens_col(F.col(text_col)).alias("toks"))
    src = spread(src)
    return src.mapInPandas(_gram_batches, "id long, shingle string")


# This module's mapInPandas bodies (``_gram_batches``, ``_minhash_batches``,
# ``_simhash_wide_batches``, ``_containment_batches``) are module-level
# functions, not closures: a worker then imports this module to unpickle them,
# which installs the package's zip-cache fix (see ``polycheck_spark``).

def _gram_batches(batches):
    """(id, shingle) rows of each batch, one per distinct gram of a doc."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        out_id, out_sh = [], []
        for did, toks in zip(pdf["id"], pdf["toks"]):
            n = len(toks) - NGRAM + 1
            if n <= 0:
                continue
            tl = list(toks)
            g = list(dict.fromkeys(" ".join(tl[i:i + NGRAM]) for i in range(n)))
            out_id.append(np.full(len(g), did, dtype=np.int64))
            out_sh.extend(g)
        yield pd.DataFrame({
            "id": np.concatenate(out_id) if out_id else np.array([], dtype=np.int64),
            "shingle": out_sh})


def _shingles_sql(table: str, id_col: str, text_col: str) -> str:
    t = _tokens_sql(text_col)
    return f"""
  SELECT DISTINCT {id_col} AS id,
         array_to_string(tl[s : s + {NGRAM} - 1], ' ') AS shingle
  FROM (SELECT {id_col}, tl,
               unnest(generate_series(1, len(tl) - {NGRAM} + 1)) AS s
        FROM (SELECT {id_col}, {t} AS tl FROM {table}))
"""


# --- n-gram Jaccard ------------------------------------------------------------

def ngram_jaccard_pairs(docs: DataFrame, threshold: tuple[int, int] = (1, 2),
                        id_col: str = "doc_id", text_col: str = "text",
                        max_doc_freq: int | None = None) -> DataFrame:
    """All doc pairs (a < b) with shingle-set Jaccard >= num/den.

    The threshold is a rational (num, den) applied by integer
    cross-multiplication — no float boundary drift between engines.

    ``max_doc_freq``: hot-shingle cap for scale. A shingle present in S docs
    produces S^2 join rows, so ONE ubiquitous shingle ("terms of service")
    melts the self-join at 100x data. With the cap, shingles appearing in
    more than ``max_doc_freq`` docs are dropped from the PAIRING stage only
    (n_a/n_b stay full-set sizes), making the Jaccard filter strictly
    conservative — capped runs return a subset of uncapped pairs. None
    disables the cap (exact semantics; what the driver oracle checks).
    """
    num, den = threshold
    # the shingle table (the corpus's dominant relation) feeds three
    # consumers (sizes, the pairing self-join's two sides); a lazy
    # localCheckpoint materializes it once and — unlike .cache(), whose
    # CacheManager entry lives until session end — is reclaimed by the
    # ContextCleaner when the result frame is garbage-collected (the
    # pattern similarity.near_dup_pairs already uses; r4 review finding)
    sh = _shingles(docs, id_col, text_col).localCheckpoint(eager=False)
    sh = sh.select(*[F.col(c).alias(c) for c in sh.columns])
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    pair_sh = sh
    if max_doc_freq is not None:
        cool = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= max_doc_freq)
                .select("shingle"))
        pair_sh = sh.join(cool, "shingle", "left_semi")
    pairs = (pair_sh.alias("x").join(pair_sh.alias("y"), "shingle")
             .filter(F.col("x.id") < F.col("y.id"))
             .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
             .agg(F.count(F.lit(1)).alias("n_common")))
    out = (pairs
           .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n", "n_a"), "a")
           .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n", "n_b"), "b")
           .filter(F.col("n_common") * den >= num * (F.col("n_a") + F.col("n_b") - F.col("n_common"))))
    return out.select("a", "b", "n_common", "n_a", "n_b")


def ngram_jaccard_pairs_sql(table: str, threshold: tuple[int, int] = (1, 2),
                            id_col: str = "doc_id", text_col: str = "text",
                            max_doc_freq: int | None = None) -> str:
    """DuckDB twin; ``max_doc_freq`` mirrors the Spark cap exactly (pairing
    restricted to cool shingles, n_a/n_b stay full-set sizes)."""
    num, den = threshold
    pair_src = "sh"
    cap_cte = ""
    if max_doc_freq is not None:
        cap_cte = f""",
psh AS (SELECT * FROM sh
        QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {max_doc_freq})"""
        pair_src = "psh"
    return f"""
WITH sh AS ({_shingles_sql(table, id_col, text_col)}),
sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id){cap_cte},
pairs AS (
  SELECT x.id AS a, y.id AS b, COUNT(*) AS n_common
  FROM {pair_src} x JOIN {pair_src} y ON x.shingle = y.shingle AND x.id < y.id
  GROUP BY 1, 2
)
SELECT p.a, p.b, p.n_common, sa.n AS n_a, sb.n AS n_b
FROM pairs p JOIN sizes sa ON sa.id = p.a JOIN sizes sb ON sb.id = p.b
WHERE p.n_common * {den} >= {num} * (sa.n + sb.n - p.n_common)
"""


# --- MinHash + LSH ---------------------------------------------------------------

_MH_Q = 1_000_000_007          # reduce the md5 int below 2^30 first so the
_MH_P = 2_147_483_647          # affine mix a*h + b stays within int64 (ANSI)
_MH_A = [2654435761, 2246822519, 3266489917, 668265263, 374761393,
         3141592653, 2718281829, 1442695041, 1160481885, 2971215073,
         1936502639, 1300027, 756839, 859433, 2976221, 3021377]
_MH_B = [1013904223, 826366247, 104729, 40503, 65537,
         7919, 5381, 33391, 99991, 65521,
         131071, 524287, 6700417, 2147483647, 998244353, 69313]


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(id, m0..m{N-1}): N_MINHASH min-hashes per doc.

    One shingle pass, N_MINHASH min-aggregates computed side by side — no
    N_MINHASH-fold row explosion (at 10^12 docs the shingle table is already
    the dominant shuffle; multiplying it by 16 would be the bottleneck).
    The seeded hashes are affine mixes of ONE md5 per shingle
    (h_i = (a_i*h + b_i) mod p, the classic universal-hash family) —
    computing 16 independent md5s per shingle costs 16x for no extra
    collision quality.

    r8: signatures are computed MAP-SIDE per document batch, no shuffle at
    all.  A document's shingles derive from its own row, so the former
    explode -> groupBy shipped the 200x-bigger gram relation through an
    exchange and evaluated 16 md5+affine expressions per gram row in
    codegen (8.2 s at sf1.0); now each Arrow batch hashes its DISTINCT
    grams once (hashlib md5 == Spark md5 on UTF-8 bytes), applies the 16
    affine mixes in one int64 matrix (the products stay < 2^63 exactly as
    the Column-path comment proves), and takes per-document minima with a
    segment reduce — integer arithmetic end to end, bit-identical
    signatures, same SQL oracle.  (The r2-era alternative this replaces
    was 16 interpreted HOF folds — slower than the explode; the NumPy
    batch path beats both.)
    """
    src = docs.select(F.col(id_col).alias("id"),
                      tokens_col(F.col(text_col)).alias("toks"))
    src = spread(src)
    schema = "id long, " + ", ".join(f"m{i} long" for i in range(N_MINHASH))
    return src.mapInPandas(_minhash_batches, schema)


def _minhash_batches(batches):
    """(id, m0..m{N-1}) rows of each batch (:func:`minhash_signatures`)."""
    import hashlib

    import numpy as np
    import pandas as pd

    A = np.array(_MH_A, dtype=np.int64)
    B = np.array(_MH_B, dtype=np.int64)
    cache: dict[str, int] = {}

    def gram_h(g: str) -> int:
        v = cache.get(g)
        if v is None:
            v = int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16) % _MH_Q
            cache[g] = v
        return v

    for pdf in batches:
        ids, lens, flat = [], [], []
        for did, toks in zip(pdf["id"], pdf["toks"]):
            n = len(toks) - NGRAM + 1
            if n <= 0:
                continue        # explode() emitted no rows for the doc
            tl = list(toks)
            flat.extend(" ".join(tl[i:i + NGRAM]) for i in range(n))
            ids.append(did)
            lens.append(n)
        if not ids:
            continue
        codes, uniq = pd.factorize(np.asarray(flat, dtype=object))
        uh = np.fromiter((gram_h(g) for g in uniq),
                         dtype=np.int64, count=len(uniq))
        vals = (uh[codes][:, None] * A[None, :] + B[None, :]) % _MH_P
        starts = np.zeros(len(lens), dtype=np.int64)
        starts[1:] = np.cumsum(lens)[:-1]
        mins = np.minimum.reduceat(vals, starts, axis=0)
        out = {"id": np.asarray(ids, dtype=np.int64)}
        for i in range(N_MINHASH):
            out[f"m{i}"] = mins[:, i]
        yield pd.DataFrame(out)


def lsh_candidate_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        max_band_freq: int | None = None) -> DataFrame:
    """Near-dup candidates: pairs agreeing on all BAND_SIZE hashes of >=1 band.

    ``max_band_freq``: hot-band cap for scale.  A (band, key) shared by S
    docs yields S^2 rows in the self-join, so one degenerate band signature
    (e.g. millions of identical boilerplate pages) is quadratic at 100x
    data.  With the cap, band groups larger than ``max_band_freq`` are
    dropped from pairing — strictly conservative (capped output is a subset
    of uncapped; a TRUE dup cluster of S > cap docs should be collapsed by
    exact dedup upstream anyway, which handles identical texts at S log S).
    None disables the cap (exact LSH semantics; the driver-checked default).
    """
    bands = band_rows(minhash_signatures(docs, id_col, text_col), "id")
    if max_band_freq is not None:
        cool = (bands.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("bf"))
                .filter(F.col("bf") <= max_band_freq).select("band", "bkey"))
        bands = bands.join(cool, ["band", "bkey"], "left_semi")
    pairs = (bands.alias("x").join(bands.alias("y"), ["band", "bkey"])
             .filter(F.col("x.id") < F.col("y.id"))
             .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
             .distinct())
    return pairs


def band_rows(sig: DataFrame, *keep: str) -> DataFrame:
    """One row per LSH band of each MinHash signature row (columns
    m0..m{N_MINHASH-1}): the ``keep`` columns plus (band, bkey), where bkey
    is the band's BAND_SIZE values joined with ','."""
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.concat_ws(",", *[F.col(f"m{b * BAND_SIZE + j}").cast("string")
                                    for j in range(BAND_SIZE)]).alias("bkey"))
        for b in range(N_BANDS)])
    return (sig.select(*keep, F.explode(bands).alias("__bb"))
            .select(*keep, F.col("__bb.band").alias("band"),
                    F.col("__bb.bkey").alias("bkey")))


def lsh_candidate_pairs_sql(table: str, id_col: str = "doc_id", text_col: str = "text",
                            max_band_freq: int | None = None) -> str:
    h = f"(({_tok_int_sql('shingle')}) % {_MH_Q})"
    mins = ", ".join(
        f"MIN(({h} * {_MH_A[i]} + {_MH_B[i]}) % {_MH_P}) AS m{i}"
        for i in range(N_MINHASH))
    band_selects = " UNION ALL ".join(
        "SELECT id, {b} AS band, ({key}) AS bkey FROM sig".format(
            b=b, key=" || ',' || ".join(f"m{b * BAND_SIZE + j}" for j in range(BAND_SIZE)))
        for b in range(N_BANDS))
    cap_cte = ""
    if max_band_freq is not None:
        cap_cte = f""",
banded AS (SELECT * FROM banded0
           QUALIFY COUNT(*) OVER (PARTITION BY band, bkey) <= {max_band_freq})"""
    src = "banded" if max_band_freq is not None else "banded0"
    return f"""
WITH sh AS ({_shingles_sql(table, id_col, text_col)}),
sig AS (SELECT id, {mins} FROM sh GROUP BY id),
banded0 AS ({band_selects}){cap_cte}
SELECT DISTINCT x.id AS a, y.id AS b
FROM {src} x JOIN {src} y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id
"""


# --- SimHash ----------------------------------------------------------------------

def _tok_int60_sql(expr: str) -> str:
    """First 15 md5 hex digits as a 60-bit BIGINT — the wide token hash for
    simhash signatures beyond 32 bits (the default 32-bit
    :func:`text._tok_int` would leave bits 32+ constant).  15 hex digits
    stay below 2^60, safely inside a signed 64-bit in both engines."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """``bits``-wide simhash over whitespace tokens (count-weighted).

    All per-bit sums run side by side in ONE groupBy over the plain token
    table (the same shape as :func:`minhash_signatures`'s 16 min-aggs):
    the former bit-explosion path shuffled bit-width x the token rows
    and needed a second aggregation — at 10^12 docs the token table is
    already the dominant shuffle, so multiplying it by the bit width was
    the bottleneck.  Same values, one pass, map-side partial combine.

    ``bits`` defaults to the oracle-pinned 16; widths up to 60 switch to
    the 15-hex-digit token hash (:func:`_tok_int60_sql`).  Width is a
    capacity knob: the Hamming pair join's band key space is 2^(bits/nb),
    so wide signatures are what scale it (see
    :func:`simhash_near_pairs`)."""
    if not 1 <= bits <= 60:
        raise ValueError("need 1 <= bits <= 60")
    if bits <= 32:
        # narrow widths keep the JVM explode + groupBy: at 16 bits the
        # map-side Python path below reads ~2x slower (the Arrow token
        # transfer costs more than the 16 narrow aggregates it saves),
        # while at 60 bits the aggregate expressions dominate 4:1 the
        # other way.  Same values either way; the sum of +-1 equals
        # 2*ones - n, expressed CaseWhen-free.
        toks = tokens_col(F.col(text_col))
        tok = (docs.select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
               .withColumn("h", _tok_int(F.col("tok"))))
        sums = [F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"s{b}")
                for b in range(bits)] + [F.count(F.lit(1)).alias("nt")]
        per_doc = tok.groupBy("id").agg(*sums)
        sim = F.lit(0).cast("long")
        for b in range(bits):
            v = 2 * F.col(f"s{b}") - F.col("nt")
            sim = sim + F.when(v > 0, F.lit(1 << b)).otherwise(F.lit(0))
        return per_doc.select("id", sim.cast("long").alias("simhash"))

    # r8, wide widths: signatures are computed MAP-SIDE, no shuffle at all.  A document's
    # tokens live in its own row, so the former explode -> groupBy shipped
    # the 200x-bigger token relation through an exchange and evaluated
    # bits x CaseWhen-sum aggregate expressions per token row (the 60-bit
    # configuration spent 6.8 s at sf1.0 in those 600M case branches alone).
    # Tokenization stays the JVM split (bit-identical token stream); each
    # Arrow batch hashes tokens with the same md5-prefix -> integer scheme
    # (hashlib == Spark md5 on UTF-8 bytes; the per-task cache exploits the
    # corpus vocabulary being far smaller than the token stream) and counts
    # bits in NumPy — integer arithmetic end to end, so signatures are
    # bit-identical to the former aggregate (sum of +-1 == 2*ones - n) and
    # the SQL oracle is untouched.  Scale shape: strictly better — the
    # former path's token exchange (its dominant shuffle) is gone.
    src = docs.select(F.col(id_col).alias("id"),
                      tokens_col(F.col(text_col)).alias("toks"))
    src = spread(src)
    return src.mapInPandas(functools.partial(_simhash_wide_batches, bits),
                           "id long, simhash long")


def _simhash_wide_batches(bits: int, batches):
    """(id, simhash) rows of each batch, 33-60 bit widths (:func:`simhash`)."""
    import hashlib

    import numpy as np
    import pandas as pd

    nhex = 15                      # bits > 32 here: the 60-bit token hash
    shifts = np.arange(bits, dtype=np.int64)
    cache: dict[str, int] = {}

    def tok_int(t: str) -> int:
        v = cache.get(t)
        if v is None:
            v = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:nhex], 16)
            cache[t] = v
        return v

    for pdf in batches:
        lens = np.fromiter((len(t) for t in pdf["toks"]),
                           dtype=np.int64, count=len(pdf))
        keep = lens > 0             # explode() emitted no rows for those
        if not keep.any():
            continue
        ids = pdf["id"].to_numpy(dtype=np.int64)[keep]
        lens = lens[keep]
        flat = np.concatenate([np.asarray(t, dtype=object)
                               for t in pdf["toks"][keep]])
        # hash each DISTINCT token once per batch (factorize is a hash
        # pass over the token stream; the md5 loop runs vocabulary-sized)
        codes, uniq = pd.factorize(flat)
        uh = np.fromiter((tok_int(t) for t in uniq),
                         dtype=np.int64, count=len(uniq))
        bitsmat = (uh[codes][:, None] >> shifts[None, :]) & 1
        starts = np.zeros(len(lens), dtype=np.int64)
        starts[1:] = np.cumsum(lens)[:-1]
        ones = np.add.reduceat(bitsmat, starts, axis=0)
        v = 2 * ones - lens[:, None]    # == sum over tokens of +-1
        sims = ((v > 0).astype(np.int64) << shifts[None, :]).sum(axis=1)
        yield pd.DataFrame({"id": ids, "simhash": sims})


def simhash_sql(table: str, id_col: str = "doc_id", text_col: str = "text",
                bits: int = SIMHASH_BITS) -> str:
    t = _tokens_sql(text_col)
    h = _tok_int_sql("u.tok") if bits <= 32 else _tok_int60_sql("u.tok")
    return f"""
WITH tok AS (
  SELECT {id_col} AS id, {h} AS h
  FROM (SELECT {id_col}, unnest({t}) AS tok FROM {table}) u({id_col}, tok)
),
bits AS (
  SELECT id, b.bit, CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END AS c
  FROM tok, range({bits}) b(bit)
),
per_bit AS (SELECT id, bit, SUM(c) AS v FROM bits GROUP BY id, bit)
SELECT id, CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM per_bit GROUP BY id
"""


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3, *,
                       id_col: str = "doc_id", text_col: str = "text",
                       max_band_freq: int | None = None,
                       bits: int = SIMHASH_BITS) -> DataFrame:
    """(a, b) document pairs whose simhashes differ in <= ``max_hamming``
    bits — the signature-level near-dup join SimHash exists for.

    Pigeonhole banding: the ``bits``-wide signature splits into
    ``max_hamming + 1`` disjoint bit bands; two signatures within the
    Hamming budget MUST agree on at least one whole band, so candidates
    come from an equi-join on (band, band_value), rescored exactly with
    ``bit_count(a XOR b)`` (integer ops, bit-identical across engines).
    ``DISTINCT`` is required here (unlike the LSH paths): a pair can
    match on several bands.

    **Band key space is the capacity limit**: each band has 2^(bits/nb)
    possible values, so expected bucket population is N / 2^(bits/nb)
    and the join does ~nb * N^2 / 2^(bits/nb) candidate comparisons.
    The oracle-pinned 16-bit default (band width 5-6) is only viable to
    ~10^4-10^5 docs; at corpus scale use ``bits`` near 60 (band width
    15 for max_hamming 3 -> 32768 values/band), exactly as MinHash's
    31-bit band keys do.  The brute-force-equality pytest pins both
    widths.  The signature table is computed ONCE (lazy localCheckpoint;
    the former per-band union recomputed the dominant token aggregation
    nb x per join side) and only (id, simhash, band, bval) rows ride the
    join.

    ``max_band_freq`` mirrors the MinHash hot-band cap: band values held
    by more than the cap are dropped from candidate generation (capped
    output is a strict subset) — the guard against degenerate signatures
    (e.g. millions of empty docs hashing to 0).  Note the cap composes
    with width: if N >> cap * 2^(bits/nb), every band value is hot and
    the capped output collapses toward empty — widen ``bits`` first.
    """
    if not 0 <= max_hamming < bits:
        raise ValueError("need 0 <= max_hamming < bits")
    sig = simhash(docs, id_col=id_col, text_col=text_col, bits=bits)
    return hamming_near_pairs(sig, max_hamming=max_hamming, id_col="id",
                              hash_col="simhash", bits=bits,
                              max_band_freq=max_band_freq)


def hamming_near_pairs(sig: DataFrame, *, max_hamming: int = 3,
                       id_col: str = "id", hash_col: str = "simhash",
                       bits: int = SIMHASH_BITS,
                       max_band_freq: int | None = None,
                       emit_hamming: bool = False) -> DataFrame:
    """(a, b[, hamming]) pairs of rows of a precomputed signature frame
    whose ``hash_col`` values differ in <= ``max_hamming`` bits — the
    signature-agnostic core of :func:`simhash_near_pairs`, reused by any
    64-bit-or-narrower fingerprint (text simhash, image dHash, ...).

    Same pigeonhole-banding design and scale contract as
    :func:`simhash_near_pairs` (that docstring is the reference); this
    entry point exists so non-text fingerprints share one audited join
    instead of reimplementing banding.  ``bits`` may be 64 here (dHash):
    band extraction uses unsigned shifts, so the sign bit is just bit 63.
    """
    if not 0 <= max_hamming < bits <= 64:
        raise ValueError("need 0 <= max_hamming < bits <= 64")
    # r8: the banding join runs at SIGNATURE level, not document level.
    # The former shape banded every document row and self-joined — at a
    # 16-bit width (band key space 2^5-2^6) that join is ~nb * N^2 / 2^w
    # candidate DOC pairs plus a DISTINCT shuffle over all of them (262 s
    # at sf1.0 for simhash_pairs).  But the pair condition depends only on
    # the two SIGNATURES: band-collide + bit_count(xor) <= max_hamming.
    # So: aggregate to distinct signatures with doc counts (<= min(N,
    # 2^bits) rows), band/self-join THAT relation, and fan the surviving
    # signature pairs back out to id pairs with two hash equi-joins —
    # the quadratic stage shrinks from N^2-shaped to D^2-shaped, the
    # DISTINCT dedups signature pairs instead of document pairs, and the
    # fan-out join emits each output row exactly once (a doc has ONE
    # signature, a signature pair survives once).  Output-identical:
    # for s != t every (i in ids(s), j in ids(t)) combo appears once as
    # (least, greatest); for s = t the i < j filter keeps each unordered
    # pair once — exactly the former x.id < y.id semantics.
    sig = (sig.select(F.col(id_col).alias("id"),
                      F.col(hash_col).cast("long").alias("h"))
           .filter(F.col("h").isNotNull())
           .localCheckpoint(eager=False))
    sigc = sig.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    nb = max_hamming + 1
    width = bits // nb
    structs = []
    for b in range(nb):
        lo = b * width
        w = width if b < nb - 1 else bits - lo
        val = F.shiftrightunsigned(F.col("h"), lo).bitwiseAND(
            F.lit((1 << w) - 1) if w < 64 else F.lit(-1))
        structs.append(F.struct(F.lit(b).alias("band"), val.alias("bval")))
    banded = (sigc.select("h", "cnt", F.explode(F.array(*structs)).alias("bb"))
              .select("h", "cnt", F.col("bb.band").alias("band"),
                      F.col("bb.bval").alias("bval")))
    if max_band_freq is not None:
        # the cap counts DOCUMENT rows per (band, bval) — the signature
        # relation carries the doc count, so the sum reproduces the former
        # doc-level band frequency exactly
        cool = (banded.groupBy("band", "bval")
                .agg(F.sum("cnt").alias("bf"))
                .filter(F.col("bf") <= max_band_freq).select("band", "bval"))
        banded = banded.join(cool, ["band", "bval"], "left_semi")
    x, y = banded.alias("x"), banded.alias("y")
    ham = F.bit_count(F.col("x.h").bitwiseXOR(F.col("y.h")))
    sp = (x.join(y, ["band", "bval"])
          .filter(F.col("x.h") <= F.col("y.h"))
          .filter(ham <= max_hamming)
          .select(F.col("x.h").alias("sa"), F.col("y.h").alias("sb"))
          .distinct())
    xa = sig.select(F.col("h").alias("sa"), F.col("id").alias("ia"))
    yb = sig.select(F.col("h").alias("sb"), F.col("id").alias("ib"))
    pairs = (sp.join(xa, "sa").join(yb, "sb")
             .filter((F.col("sa") != F.col("sb"))
                     | (F.col("ia") < F.col("ib"))))
    cols = [F.least("ia", "ib").alias("a"),
            F.greatest("ia", "ib").alias("b")]
    if emit_hamming:
        cols.append(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
                    .cast("int").alias("hamming"))
    return pairs.select(*cols)


def simhash_near_pairs_sql(table: str, max_hamming: int = 3,
                           id_col: str = "doc_id", text_col: str = "text",
                           max_band_freq: int | None = None,
                           bits: int = SIMHASH_BITS) -> str:
    """DuckDB twin of :func:`simhash_near_pairs` (same bands, same
    bit_count rescore)."""
    nb = max_hamming + 1
    width = bits // nb
    rows = []
    for b in range(nb):
        lo = b * width
        w = width if b < nb - 1 else bits - lo
        rows.append(f"SELECT id, simhash, {b} AS band, "
                    f"(simhash >> {lo}) & {(1 << w) - 1} AS bval FROM sig")
    band_rows = " UNION ALL ".join(rows)
    cap_cte = ""
    src = "banded0"
    if max_band_freq is not None:
        cap_cte = f""",
banded AS (SELECT * FROM banded0
           QUALIFY COUNT(*) OVER (PARTITION BY band, bval) <= {max_band_freq})"""
        src = "banded"
    return f"""
WITH sig AS ({simhash_sql(table, id_col, text_col, bits=bits)}),
banded0 AS ({band_rows}){cap_cte}
SELECT DISTINCT x.id AS a, y.id AS b
FROM {src} x JOIN {src} y
  ON x.band = y.band AND x.bval = y.bval AND x.id < y.id
WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
"""


# --- incremental (batch-vs-corpus) dedup -------------------------------------

def incremental_dedup(new_docs: DataFrame, seen_digests: DataFrame, *,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(id, digest, status) for an INCOMING batch against an existing
    corpus digest index — the shape every continuously-ingesting pipeline
    runs: a new crawl lands, and only texts never seen before (in the
    corpus OR earlier in the batch) are admitted.

    status: ``'new'`` (admit), ``'dup_of_corpus'`` (digest already in
    ``seen_digests``), ``'dup_in_batch'`` (first occurrence of this digest
    within the batch wins by min id; later ones carry this status).

    Scale shape: one digest-keyed left join of the batch against the index
    (both shuffle on digest — the index side prunes to its digest column
    only) and one window over batch digests (batch-sized).  The corpus is
    never rescanned: ``seen_digests`` is the persisted index a production
    deployment maintains (here derived on the fly by callers)."""
    from pyspark.sql import Window
    batch = new_docs.select(id_col, F.md5(F.col(text_col)).alias("digest"))
    seen = seen_digests.select(F.col("digest").alias("digest"),
                               F.lit(True).alias("__seen")).distinct()
    j = batch.join(seen, "digest", "left")
    w = Window.partitionBy("digest").orderBy(id_col)
    return (j.withColumn("__rn", F.row_number().over(w))
            .select(id_col, "digest",
                    F.when(F.col("__seen").isNotNull(), "dup_of_corpus")
                    .when(F.col("__rn") > 1, "dup_in_batch")
                    .otherwise("new").alias("status")))


def incremental_dedup_sql(batch_cte: str, seen_cte: str,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> str:
    """DuckDB twin of :func:`incremental_dedup` (seen_cte yields `digest`)."""
    return f"""
SELECT {id_col}, digest,
       CASE WHEN seen THEN 'dup_of_corpus'
            WHEN rn > 1 THEN 'dup_in_batch'
            ELSE 'new' END AS status
FROM (
  SELECT b.{id_col}, b.digest,
         s.digest IS NOT NULL AS seen,
         row_number() OVER (PARTITION BY b.digest ORDER BY b.{id_col}) AS rn
  FROM (SELECT {id_col}, md5({text_col}) AS digest FROM ({batch_cte})) b
  LEFT JOIN (SELECT DISTINCT digest FROM ({seen_cte})) s USING (digest))
"""


# --- benchmark decontamination ----------------------------------------------

def decontaminate(docs: DataFrame, eval_docs: DataFrame, *,
                  id_col: str = "doc_id", text_col: str = "text",
                  eval_id_col: str = "doc_id",
                  eval_text_col: str = "text") -> DataFrame:
    """Per-document n-gram contamination against a benchmark/eval set:
    (id, n_shingles, n_contaminated, contaminated) for EVERY corpus doc.

    The standard C4/LLM-pipeline stage: training documents sharing word
    n-grams with an evaluation benchmark leak test answers into training,
    so they are flagged (and usually dropped) before training.  A doc is
    ``contaminated`` when ANY of its shingles appears in the eval set;
    the raw counts are kept so callers can apply fraction thresholds.

    Scale shape: the eval shingle set is benchmark-sized (10^4-10^6 rows
    against a 10^12-doc corpus), so it is distinct-ed and BROADCAST —
    the corpus-side shingle table streams through one broadcast hash
    join and one groupBy, never a shuffle keyed on shingles.  Docs with
    fewer than NGRAM tokens have no shingles and report (0, 0, false).
    """
    sh = _shingles(docs, id_col, text_col)
    ev = (_shingles(eval_docs, eval_id_col, eval_text_col)
          .select("shingle").distinct()
          .withColumn("__hit", F.lit(True)))
    marked = sh.join(F.broadcast(ev), "shingle", "left")
    per_doc = (marked.groupBy("id")
               .agg(F.count(F.lit(1)).alias("n_shingles"),
                    F.count("__hit").alias("n_contaminated")))
    base = docs.select(F.col(id_col).alias("id"))
    return (base.join(per_doc, "id", "left")
            .select("id",
                    F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
                    F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"))
            .withColumn("contaminated", F.col("n_contaminated") > 0))


def decontaminate_sql(table: str, eval_table: str,
                      id_col: str = "doc_id", text_col: str = "text",
                      eval_id_col: str = "doc_id",
                      eval_text_col: str = "text") -> str:
    """DuckDB twin of :func:`decontaminate` — same shingles, same flag."""
    return f"""
WITH dsh AS ({_shingles_sql(table, id_col, text_col)}),
esh AS (SELECT DISTINCT shingle
        FROM ({_shingles_sql(eval_table, eval_id_col, eval_text_col)})),
per_doc AS (
  SELECT d.id, COUNT(*) AS n_shingles,
         COUNT(e.shingle) AS n_contaminated
  FROM dsh d LEFT JOIN esh e ON e.shingle = d.shingle
  GROUP BY d.id)
SELECT t.{id_col} AS id,
       coalesce(p.n_shingles, 0) AS n_shingles,
       coalesce(p.n_contaminated, 0) AS n_contaminated,
       coalesce(p.n_contaminated, 0) > 0 AS contaminated
FROM {table} t LEFT JOIN per_doc p ON p.id = t.{id_col}
"""


# --- candidate verification (the stage between LSH and clustering) ----------

def verify_pairs_jaccard(docs: DataFrame, pairs: DataFrame,
                         threshold: tuple[int, int] = (1, 2), *,
                         id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact shingle-set Jaccard verification RESTRICTED to candidate pairs.

    LSH candidates are probabilistic: a band collision happens with
    probability J^band_size per band, so at corpus scale plenty of pairs
    with low true Jaccard collide on some band (a planted instance is
    pinned in tests/test_dedup.py).  Clustering raw candidates merges
    those false positives transitively; this stage scores each candidate
    pair with the EXACT shingle-set Jaccard (the same integer
    cross-multiplication :func:`ngram_jaccard_pairs` uses) and keeps only
    pairs >= num/den.

    Scale shape: unlike :func:`ngram_jaccard_pairs` (whose pairing
    self-join is quadratic per shared shingle), the work here is bounded
    by |candidates| x doc shingle size — the shingle table joins once per
    pair endpoint, never against itself.  Pairs with zero common shingles
    drop out (J = 0 < any threshold).
    """
    num, den = threshold
    # one shingle materialization feeds sizes + both endpoint joins
    sh = _shingles(docs, id_col, text_col).localCheckpoint(eager=False)
    sh = sh.select(*[F.col(c).alias(c) for c in sh.columns])
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    sha = sh.select(F.col("id").alias("a"), "shingle")
    shb = sh.select(F.col("id").alias("b"), "shingle")
    common = (pairs.select("a", "b").join(sha, "a").join(shb, ["b", "shingle"])
              .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_common")))
    return (common
            .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n", "n_a"), "a")
            .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n", "n_b"), "b")
            .filter(F.col("n_common") * den
                    >= num * (F.col("n_a") + F.col("n_b") - F.col("n_common")))
            .select("a", "b"))


def verified_dup_clusters(docs: DataFrame, threshold: tuple[int, int] = (1, 2), *,
                          id_col: str = "doc_id", text_col: str = "text",
                          max_band_freq: int | None = None) -> DataFrame:
    """The production fuzzy-dedup composition: LSH candidate generation ->
    exact-Jaccard edge verification -> connected components.

    This is the shape C4/RefinedWeb-class pipelines actually run — CC over
    UNVERIFIED candidates (the :func:`lsh_candidate_pairs` output directly)
    lets every band-collision false positive merge two true clusters
    transitively, and one bad edge per 10^4 candidates is plenty to fuse
    the corpus's biggest clusters at 10^12 docs.  Returns (id, cluster_id)
    for every document.
    """
    cand = lsh_candidate_pairs(docs, id_col, text_col,
                               max_band_freq=max_band_freq)
    edges = verify_pairs_jaccard(docs, cand, threshold,
                                 id_col=id_col, text_col=text_col)
    verts = docs.select(id_col)
    return cluster_assignments(verts, edges, id_col=id_col)


def verified_pairs_sql(table: str, threshold: tuple[int, int] = (1, 2),
                       id_col: str = "doc_id", text_col: str = "text",
                       max_band_freq: int | None = None) -> str:
    """DuckDB twin of ``verify_pairs_jaccard(lsh_candidate_pairs(...))`` —
    same candidates, same integer-exact Jaccard gate."""
    num, den = threshold
    return f"""
WITH vcand AS ({lsh_candidate_pairs_sql(table, id_col, text_col,
                                        max_band_freq=max_band_freq)}),
vsh AS ({_shingles_sql(table, id_col, text_col)}),
vsizes AS (SELECT id, COUNT(*) AS n FROM vsh GROUP BY id),
vcommon AS (
  SELECT c.a, c.b, COUNT(*) AS n_common
  FROM vcand c JOIN vsh x ON x.id = c.a
               JOIN vsh y ON y.id = c.b AND y.shingle = x.shingle
  GROUP BY 1, 2)
SELECT m.a, m.b
FROM vcommon m JOIN vsizes sa ON sa.id = m.a JOIN vsizes sb ON sb.id = m.b
WHERE m.n_common * {den} >= {num} * (sa.n + sb.n - m.n_common)
"""


# --- duplicate-cluster assignment (connected components) ---------------------

def connected_components(vertices: DataFrame, edges: DataFrame, *,
                         id_col: str = "id", src_col: str = "a",
                         dst_col: str = "b", max_iters: int = 20) -> DataFrame:
    """(id, cluster_id): every vertex labeled with the smallest id reachable
    in the undirected graph — the step a dedup pipeline needs AFTER pair
    generation, turning near-dup PAIRS into canonical-representative
    CLUSTERS (keep cluster_id, drop the rest).

    Algorithm: min-label propagation (hash-to-min) accelerated with pointer
    jumping.  Each round every vertex takes the min of its own label and
    its neighbors' labels (one equi-join + one groupBy(min), both
    map-side-combinable), then short-circuits through its label's label
    (``label(v) <- label(label(v))`` — a self-equi-join): the reach of a
    label doubles per round, so convergence is O(log n) rounds on ANY
    graph shape, not O(diameter) — a 64-vertex path converges in ~6 rounds
    instead of 63 (pinned by test).  Near-dup clusters are near-cliques
    and converge in 2-3 rounds regardless; ``max_iters`` is a safety
    bound, convergence is detected by an any-label-changed probe on the
    checkpointed frames.  No driver-side graph state.
    """
    # materialize the edge list ONCE: `edges` is usually the tail of a
    # deep lazy pipeline (shingles -> LSH banding -> Jaccard verify), and
    # every propagation round joins against it — without this checkpoint
    # the whole candidate-generation DAG re-executes per round (measured
    # ~Nx the query time for N rounds); after it, each round scans a
    # pinned RDD
    und = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")) \
        .unionAll(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))) \
        .localCheckpoint(eager=False)
    # each round's plan embeds the previous round's, so WITHOUT lineage
    # truncation the logical plan doubles per iteration (driver OOM by ~10
    # rounds — observed); a localCheckpoint pins the round's result and
    # resets the plan to a scan, the standard iterative-DataFrame shape.
    # r8: the checkpoints are LAZY and the per-round label-sum probe is the
    # action that materializes them — one job per round instead of an eager
    # checkpoint job followed by a probe job (the loop is latency-bound at
    # small dup mass, so halving the actions halves the fixed cost)
    labels = vertices.select(F.col(id_col).alias("id"),
                             F.col(id_col).alias("label")) \
        .localCheckpoint(eager=False)

    def label_sum(df):
        # exact decimal sum — ids can be 64-bit hashes, so an int64 sum of
        # 10^6+ of them would overflow
        return df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]

    prev_sum = label_sum(labels)
    for _ in range(max_iters):
        prop = (und.join(labels, und.src == labels.id)
                .select(F.col("dst").alias("id"), "label"))
        stepped = (labels.select("id", "label").unionAll(prop)
                   .groupBy("id").agg(F.min("label").alias("label")))
        # pointer jump: labels are always vertex ids, so label(label(v))
        # resolves via a self-join (left + coalesce is belt-and-braces)
        lut = stepped.select(F.col("id").alias("lid"),
                             F.col("label").alias("llabel"))
        # the trailing re-alias mints FRESH attribute ids over the
        # checkpointed RDD: without it, round k+1's self-join over attrs
        # that were themselves produced by round k's deduplicated self-join
        # trips Spark's relation dedup ("key not found: id#N" inside
        # localCheckpoint) — found by the 1M-vertex stress run, reproduced
        # at 10k; harmless no-op otherwise
        new_labels = (stepped.join(lut, stepped.label == lut.lid, "left")
                      .select("id", F.coalesce("llabel", "label").alias("label"))
                      .localCheckpoint(eager=False)
                      .select(F.col("id").alias("id"),
                              F.col("label").alias("label")))
        # convergence via the label-sum invariant: per-vertex labels are
        # NON-INCREASING (min over a set containing the old label; the jump
        # maps through a non-increasing table), so the exact sum is
        # unchanged iff no label moved — one cheap aggregate over the
        # just-checkpointed RDD instead of a join + isEmpty per round
        new_sum = label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        # the loop exhausted max_iters with the last round still changing
        # labels — the final round may nonetheless have REACHED the
        # fixpoint (exactly-sufficient max_iters).  One extra change probe
        # decides it: a propagation step leaves the exact label sum
        # unchanged iff no label can move, and at that point labels are
        # constant per component and equal the component-minimum id (for
        # every edge (u,v) stability gives label(u) <= label(v) and
        # label(v) <= label(u); labels are always member ids, and vertex c
        # with label c forces c = min id) — so an unchanged probe sum IS
        # full convergence, no jump step needed.
        prop = (und.join(labels, und.src == labels.id)
                .select(F.col("dst").alias("id"), "label"))
        probe_sum = label_sum(labels.select("id", "label").unionAll(prop)
                              .groupBy("id").agg(F.min("label").alias("label")))
        if probe_sum != prev_sum:
            import warnings
            warnings.warn(
                f"connected_components: convergence unverified after "
                f"{max_iters} rounds (labels still changing at the final "
                f"probe) — labels may be partially propagated; raise "
                f"max_iters (pointer jumping needs O(log n) rounds)",
                RuntimeWarning, stacklevel=2)
    return labels.select("id", F.col("label").alias("cluster_id"))


def cluster_assignments(vertices: DataFrame, edges: DataFrame, *,
                        id_col: str = "id", src_col: str = "a",
                        dst_col: str = "b", max_iters: int = 20) -> DataFrame:
    """(id, cluster_id) for EVERY vertex — semantically identical to
    running :func:`connected_components` over the full vertex set, but the
    iterative propagation touches only the edge ENDPOINTS.

    At web scale this is the difference that matters: near-dup edges cover
    the duplicate mass (a few percent of the corpus), so the O(log n)
    rounds of join + groupBy + checkpoint run over endpoint-sized frames
    while the singleton majority — whose label is trivially their own id —
    is handled by ONE anti-join against the endpoint set.  Dragging 10^12
    singleton vertices through every propagation round (the previous
    shape) made each round corpus-sized for no information.
    """
    # pin the (usually deeply lazy) pair pipeline once — both the endpoint
    # derivation and every CC round read this RDD instead of re-running
    # candidate generation
    edges = edges.select(src_col, dst_col).localCheckpoint()
    endpoints = (edges.select(F.col(src_col).alias(id_col))
                 .unionAll(edges.select(F.col(dst_col).alias(id_col)))
                 .distinct())
    labeled = connected_components(endpoints, edges, id_col=id_col,
                                   src_col=src_col, dst_col=dst_col,
                                   max_iters=max_iters)
    singles = (vertices.select(F.col(id_col).alias("id"))
               .join(labeled.select("id"), "id", "left_anti")
               .select("id", F.col("id").alias("cluster_id")))
    return labeled.unionAll(singles)


def connected_components_sql(vertices_cte: str, edges_cte: str,
                             id_col: str = "id", out_id: str = "id") -> str:
    """DuckDB twin: recursive reachability closure, then min per vertex.
    Exact for any graph (the closure is the fixpoint hash-to-min converges
    to); sized for oracle-scale graphs — the Spark operator is the one that
    scales."""
    return f"""
WITH RECURSIVE verts AS ({vertices_cte}),
pairs AS ({edges_cte}),
edges AS (SELECT a AS src, b AS dst FROM pairs
          UNION ALL SELECT b AS src, a AS dst FROM pairs),
reach(id, r) AS (
  SELECT {id_col} AS id, {id_col} AS r FROM verts
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
)
SELECT id AS {out_id}, MIN(r) AS cluster_id FROM reach GROUP BY id
"""


# --- corpus-level line dedup (keep first occurrence) ------------------------

def line_dedup_corpus(docs: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text", delim: str = "\n",
                      min_len: int = 1) -> DataFrame:
    """Corpus-wide exact line dedup, RefinedWeb-style: every line that
    occurs more than once ANYWHERE in the corpus survives only at its
    first occurrence (smallest ``(id, pos)``); later repeats are removed
    and each document is reassembled in original order.  Lines shorter
    than ``min_len`` characters (default: empty lines) never participate
    — they are kept verbatim everywhere.  Emits
    (id, n_lines, n_lines_kept, clean_text); a document whose every line
    is a repeat keeps an empty clean_text rather than disappearing.

    Differs from :func:`~polycheck_spark.operators.text.strip_boilerplate`:
    that drops ALL copies of corpus-frequent lines (a frequency filter);
    this keeps exactly one global copy of every line (a dedup).

    Shape for scale: explode to (id, pos, line) rows, ONE map-side-combined
    ``groupBy(line).agg(min(struct(id, pos)))`` — the canonical table has
    one row per distinct line — then an equi-join back on the line and one
    groupBy(id) for reassembly: three shuffles, no window over the full
    line relation, no cross product.  The join key is the exact line
    string (engine-parity with the oracle); at corpus scale substitute a
    64-bit digest key to cut shuffle bytes (collision odds ~n^2/2^65).  A
    line duplicated across a large fraction of the corpus makes a hot join
    key; AQE skew-join splits it because the canonical side is one row per
    line (broadcastable fragments).
    """
    import re
    parts = F.split(F.col(text_col), re.escape(delim), -1)
    lines = docs.select(F.col(id_col).alias("id"),
                        F.posexplode(parts).alias("pos", "line"))
    part = lines.filter(F.length("line") >= min_len)
    canon = part.groupBy("line").agg(
        F.min(F.struct(F.col("id"), F.col("pos"))).alias("first"))
    marked = lines.join(canon, "line", "left")
    keep = (F.col("first").isNull()
            | ((F.col("first.id") == F.col("id"))
               & (F.col("first.pos") == F.col("pos"))))
    ordered = F.transform(
        F.array_sort(F.collect_list(
            F.when(keep, F.struct(F.col("pos"), F.col("line"))))),
        lambda x: x["line"])
    return (marked.groupBy("id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_lines"),
                 F.count(F.when(keep, F.lit(1))).cast("int").alias("n_lines_kept"),
                 F.array_join(ordered, delim).alias("clean_text"))
            .select(F.col("id").alias(id_col), "n_lines", "n_lines_kept",
                    "clean_text"))


def line_dedup_corpus_sql(table: str, id_col: str = "doc_id",
                          text_col: str = "text", delim: str = "\n",
                          min_len: int = 1) -> str:
    """DuckDB twin of :func:`line_dedup_corpus` (same first-occurrence
    rule via min-(id,pos) per line, same positional reassembly)."""
    from polycheck_spark.operators.text import _delim_sql
    d = _delim_sql(delim)
    return f"""
WITH ld_parts AS (SELECT {id_col} AS id, string_split({text_col}, {d}) AS pl FROM {table}),
ld_lines AS (
  SELECT id, s - 1 AS pos, pl[s] AS line
  FROM (SELECT id, pl, unnest(generate_series(1, len(pl))) AS s FROM ld_parts)),
ld_canon AS (
  SELECT line, MIN({{'id': id, 'pos': pos}}) AS first
  FROM ld_lines WHERE len(line) >= {min_len} GROUP BY line),
ld_marked AS (
  SELECT l.id, l.pos, l.line,
         (c.line IS NULL OR (c.first.id = l.id AND c.first.pos = l.pos)) AS keep
  FROM ld_lines l LEFT JOIN ld_canon c USING (line)),
ld_agg AS (
  SELECT id, COUNT(*) AS n_lines,
         COUNT(CASE WHEN keep THEN 1 END) AS n_lines_kept,
         coalesce(string_agg(CASE WHEN keep THEN line END, {d} ORDER BY pos)
                  FILTER (WHERE keep), '') AS clean_text
  FROM ld_marked GROUP BY id)
SELECT id AS {id_col}, CAST(n_lines AS INT) AS n_lines,
       CAST(n_lines_kept AS INT) AS n_lines_kept, clean_text
FROM ld_agg
"""


SPAN_NGRAM = 8


def duplicate_span_dedup(docs: DataFrame, *, id_col: str = "doc_id",
                         text_col: str = "text", n: int = SPAN_NGRAM) -> DataFrame:
    """Exact repeated-substring removal at token-window granularity
    ("deduplicating training data" style: any ``n``-token window whose
    exact text occurs more than once ANYWHERE in the corpus is a
    duplicate; the occurrence with the smallest ``(id, p)`` is kept and
    every other occurrence is cut from its document).  Overlapping and
    token-adjacent duplicate windows merge into maximal spans before
    removal, so a long repeated passage is reported as ONE span.  Emits
    (id, n_tokens, n_dup_spans, n_dup_tokens, clean_text); clean_text is
    the surviving tokens joined by single spaces (whitespace-normalized
    by the shared tokenizer, like every token-level operator here).

    Shape for scale: windows explode to (id, p, gram) — ~L rows per
    L-token doc — then ONE map-side-combined ``groupBy(gram)`` keeps only
    grams seen twice (the canonical table is duplicate-mass-sized, far
    smaller than the corpus at realistic dup rates), one equi-join back
    marks losing occurrences, and the island merge + reassembly windows
    run over DUPLICATE windows only, never the full corpus.  The join key
    is the exact gram text for engine parity with the oracle; at corpus
    scale substitute a 64-bit digest key to cut shuffle bytes.  A viral
    gram makes a hot join key; the canonical side is one row per gram, so
    AQE skew-join splits it for free.
    """
    from pyspark.sql import Window
    base = docs.select(F.col(id_col).alias("id"),
                       tokens_col(F.col(text_col)).alias("toks"))
    wins = (base.filter(F.size("toks") >= n)
            .select("id",
                    F.explode(F.sequence(F.lit(0), F.size("toks") - n)).alias("p"),
                    "toks")
            .select("id", "p",
                    F.array_join(F.slice(F.col("toks"), F.col("p") + 1, n), " ")
                    .alias("gram")))
    canon = (wins.groupBy("gram")
             .agg(F.count(F.lit(1)).alias("cnt"),
                  F.min(F.struct(F.col("id"), F.col("p"))).alias("first"))
             .filter(F.col("cnt") > 1).select("gram", "first"))
    dup = (wins.join(canon, "gram")
           .filter(~((F.col("first.id") == F.col("id"))
                     & (F.col("first.p") == F.col("p"))))
           .select("id", "p"))
    # windows sorted by p all have length n, so the running max end is
    # lag(p) + n - 1: a window starts a new island iff p > lag(p) + n
    # (strictly past token-adjacency).
    w = Window.partitionBy("id").orderBy("p")
    isl = dup.select(
        "id", "p",
        F.sum(F.when(F.lag("p").over(w).isNull()
                     | (F.col("p") > F.lag("p").over(w) + n), 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"))
    spans = (isl.groupBy("id", "island")
             .agg(F.min("p").alias("s"), (F.max("p") + F.lit(n - 1)).alias("e")))
    per_doc = (spans.groupBy("id")
               .agg(F.count(F.lit(1)).cast("int").alias("n_dup_spans"),
                    F.sum(F.col("e") - F.col("s") + 1).cast("int")
                    .alias("n_dup_tokens"),
                    F.array_sort(F.collect_list(F.struct("s", "e")))
                    .alias("__iv")))
    joined = (base.join(per_doc, "id", "left")
              .withColumn("__iv", F.coalesce(
                  "__iv", F.array().cast("array<struct<s:int,e:int>>"))))
    kept = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(F.col("__iv"),
                               lambda iv: (i >= iv["s"]) & (i <= iv["e"])))
    return joined.select(
        F.col("id").alias(id_col),
        F.size("toks").alias("n_tokens"),
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
        F.array_join(kept, " ").alias("clean_text"))


def duplicate_span_dedup_sql(table: str, id_col: str = "doc_id",
                             text_col: str = "text", n: int = SPAN_NGRAM) -> str:
    """DuckDB twin of :func:`duplicate_span_dedup` (same keep-first rule,
    same token-adjacent island merge, same whitespace-normalized
    reassembly)."""
    return f"""
WITH ds_tok AS (SELECT {id_col} AS id, {_tokens_sql(text_col)} AS toks FROM {table}),
ds_gram AS (
  SELECT id, p, array_to_string(list_slice(toks, p + 1, p + {n}), ' ') AS gram
  FROM (SELECT id, toks, unnest(generate_series(0, len(toks) - {n})) AS p
        FROM ds_tok WHERE len(toks) >= {n})),
ds_canon AS (
  SELECT gram, MIN({{'id': id, 'p': p}}) AS first
  FROM ds_gram GROUP BY gram HAVING COUNT(*) > 1),
ds_dup AS (
  SELECT g.id, g.p FROM ds_gram g JOIN ds_canon c USING (gram)
  WHERE NOT (c.first.id = g.id AND c.first.p = g.p)),
ds_isl AS (
  SELECT id, p,
         SUM(CASE WHEN prev_p IS NULL OR p > prev_p + {n} THEN 1 ELSE 0 END)
           OVER (PARTITION BY id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM (SELECT id, p, lag(p) OVER (PARTITION BY id ORDER BY p) AS prev_p
        FROM ds_dup)),
ds_spans AS (
  SELECT id, island, MIN(p) AS s, MAX(p) + {n - 1} AS e
  FROM ds_isl GROUP BY id, island),
ds_per AS (
  SELECT id, COUNT(*) AS n_dup_spans, SUM(e - s + 1) AS n_dup_tokens
  FROM ds_spans GROUP BY id),
ds_tokpos AS (
  SELECT id, u - 1 AS i, toks[u] AS tok
  FROM (SELECT id, toks, unnest(generate_series(1, len(toks))) AS u
        FROM ds_tok WHERE len(toks) > 0)),
ds_clean AS (
  SELECT t.id, string_agg(t.tok, ' ' ORDER BY t.i) AS clean_text
  FROM ds_tokpos t
  WHERE NOT EXISTS (SELECT 1 FROM ds_spans v
                    WHERE v.id = t.id AND t.i BETWEEN v.s AND v.e)
  GROUP BY t.id)
SELECT d.id AS {id_col}, CAST(len(d.toks) AS INT) AS n_tokens,
       CAST(coalesce(p.n_dup_spans, 0) AS INT) AS n_dup_spans,
       CAST(coalesce(p.n_dup_tokens, 0) AS INT) AS n_dup_tokens,
       coalesce(c.clean_text, '') AS clean_text
FROM ds_tok d LEFT JOIN ds_per p USING (id) LEFT JOIN ds_clean c USING (id)
"""


# --- n-gram containment (directional partial-copy detection) ------------------

def containment_pairs(docs: DataFrame, threshold: tuple[int, int] = (8, 10),
                      id_col: str = "doc_id", text_col: str = "text",
                      max_doc_freq: int | None = None) -> DataFrame:
    """Directional shingle containment: rows ``(contained, container,
    n_common, n_contained, n_container)`` where at least ``num/den`` of the
    CONTAINED doc's shingle set also appears in the container.

    Jaccard misses the quote/partial-copy case — a 50-token excerpt inside
    a 5000-token page has Jaccard ~0.01 but containment ~1.0 — so crawl
    pipelines (e.g. the CCNet/RefinedWeb lineage) key "is this page mostly
    lifted from elsewhere" off containment, not symmetric similarity.
    The threshold is a rational applied by integer cross-multiplication
    (``n_common * den >= num * n_contained``) — no float boundary drift
    between engines.  Each unordered pair is scored ONCE (the ``a < b``
    self-join half) and then fanned into its two directions, so the
    quadratic stage costs exactly what :func:`ngram_jaccard_pairs` costs.

    ``max_doc_freq`` is the same hot-shingle pairing cap (conservative
    subset — n_contained/n_container stay full-set sizes).  At 10^12 docs
    this is the verification stage over LSH candidates, same contract as
    Jaccard; the uncapped form the oracle checks is exact.

    r8, uncapped path only: doc-at-a-time scoring over a broadcast
    inverted index replaces the shingle self-join.  The join shape is
    forced to materialize and SHUFFLE every doc pair sharing a shingle
    (measured at sf1.0: 127M join rows -> a 114M-row (a, b, n_common)
    exchange feeding a filter that keeps 5101 rows — 27 s, almost all of
    it the exchange).  But every surviving row's decision needs only the
    CONTAINED doc's own shingles, the posting lists of those shingles,
    and the container sizes — so each doc can accumulate its common-count
    vector locally (one bincount over its shingles' posting lists) and
    apply the threshold BEFORE anything is emitted: per-direction rows
    are produced exactly once (each from its contained side), the
    quadratic intermediate never leaves the task, and the output is the
    only thing shuffled.  The index is bounded by the shingle relation —
    fine at oracle/bench scale; at 10^12 docs the uncapped all-pairs form
    is off the table either way (its OUTPUT is corpus-quadratic), and the
    capped configuration keeps the shuffle-based pairing below.
    """
    num, den = threshold
    if max_doc_freq is not None:
        sh = _shingles(docs, id_col, text_col).localCheckpoint(eager=False)
        sh = sh.select(*[F.col(c).alias(c) for c in sh.columns])
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
        cool = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= max_doc_freq)
                .select("shingle"))
        pair_sh = sh.join(cool, "shingle", "left_semi")
        pairs = (pair_sh.alias("x").join(pair_sh.alias("y"), "shingle")
                 .filter(F.col("x.id") < F.col("y.id"))
                 .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
                 .agg(F.count(F.lit(1)).alias("n_common")))
        sized = (pairs
                 .join(sizes.withColumnRenamed("id", "a")
                       .withColumnRenamed("n", "n_a"), "a")
                 .join(sizes.withColumnRenamed("id", "b")
                       .withColumnRenamed("n", "n_b"), "b"))
        fwd = sized.select(F.col("a").alias("contained"),
                           F.col("b").alias("container"), "n_common",
                           F.col("n_a").alias("n_contained"),
                           F.col("n_b").alias("n_container"))
        rev = sized.select(F.col("b").alias("contained"),
                           F.col("a").alias("container"), "n_common",
                           F.col("n_b").alias("n_contained"),
                           F.col("n_a").alias("n_container"))
        return (fwd.unionByName(rev)
                .filter(F.col("n_common") * den >= num * F.col("n_contained")))

    import numpy as np

    spark = docs.sparkSession
    # inverted index: shingle -> posting array of doc CODES (dense 0..N-1
    # re-keying so the per-doc accumulator is one bincount buffer); built
    # from the same _shingles relation the join path used, collected once
    post_pdf = (_shingles(docs, id_col, text_col)
                .groupBy("shingle").agg(F.collect_list("id").alias("ids"))
                .toPandas())
    lens = np.fromiter((len(v) for v in post_pdf["ids"]),
                       dtype=np.int64, count=len(post_pdf))
    all_ids = (np.concatenate([np.asarray(v, dtype=np.int64)
                               for v in post_pdf["ids"]])
               if len(post_pdf) else np.array([], dtype=np.int64))
    uniq_ids, codes_all = np.unique(all_ids, return_inverse=True)
    sizes_arr = np.bincount(codes_all, minlength=len(uniq_ids)).astype(np.int64)
    bounds = np.cumsum(lens)[:-1]
    postings = dict(zip(post_pdf["shingle"], np.split(codes_all, bounds)))
    bc = spark.sparkContext.broadcast((postings, uniq_ids, sizes_arr))

    schema = ("contained long, container long, n_common long, "
              "n_contained long, n_container long")

    src = docs.select(F.col(id_col).alias("id"),
                      tokens_col(F.col(text_col)).alias("toks"))
    src = spread(src)
    return src.mapInPandas(
        functools.partial(_containment_batches, bc, num, den), schema)


def _containment_batches(bc, num: int, den: int, batches):
    """Per-doc containment rows of each batch (:func:`containment_pairs`'s
    broadcast inverted-index path); ``bc`` holds (postings, ids, sizes)."""
    import numpy as np
    import pandas as pd

    idx, ids_v, sizes_v = bc.value
    n_docs = len(ids_v)
    for pdf in batches:
        o_a, o_b, o_c, o_na, o_nb = [], [], [], [], []
        for did, toks in zip(pdf["id"], pdf["toks"]):
            n = len(toks) - NGRAM + 1
            if n <= 0:
                continue
            tl = list(toks)
            grams = dict.fromkeys(" ".join(tl[i:i + NGRAM])
                                  for i in range(n))
            counts = np.bincount(
                np.concatenate([idx[g] for g in grams]),
                minlength=n_docs)
            me = np.searchsorted(ids_v, did)
            na = counts[me]            # every own posting contains me
            counts[me] = 0             # never pair with self
            cand = np.flatnonzero(counts)
            keep = counts[cand] * den >= num * na
            cand = cand[keep]
            o_a.append(np.full(len(cand), did, dtype=np.int64))
            o_b.append(ids_v[cand])
            o_c.append(counts[cand])
            o_na.append(np.full(len(cand), na, dtype=np.int64))
            o_nb.append(sizes_v[cand])
        e = np.array([], dtype=np.int64)
        yield pd.DataFrame({
            "contained": np.concatenate(o_a) if o_a else e,
            "container": np.concatenate(o_b) if o_b else e,
            "n_common": np.concatenate(o_c) if o_c else e,
            "n_contained": np.concatenate(o_na) if o_na else e,
            "n_container": np.concatenate(o_nb) if o_nb else e,
        })


def containment_pairs_sql(table: str, threshold: tuple[int, int] = (8, 10),
                          id_col: str = "doc_id", text_col: str = "text",
                          max_doc_freq: int | None = None) -> str:
    """DuckDB twin of :func:`containment_pairs` (same one-sided scoring +
    two-direction fan-out, same rational threshold, same pairing cap)."""
    num, den = threshold
    pair_src = "sh"
    cap_cte = ""
    if max_doc_freq is not None:
        cap_cte = f""",
psh AS (SELECT * FROM sh
        QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {max_doc_freq})"""
        pair_src = "psh"
    return f"""
WITH sh AS ({_shingles_sql(table, id_col, text_col)}),
sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id){cap_cte},
pairs AS (
  SELECT x.id AS a, y.id AS b, COUNT(*) AS n_common
  FROM {pair_src} x JOIN {pair_src} y ON x.shingle = y.shingle AND x.id < y.id
  GROUP BY 1, 2
),
sized AS (
  SELECT p.a, p.b, p.n_common, sa.n AS n_a, sb.n AS n_b
  FROM pairs p JOIN sizes sa ON sa.id = p.a JOIN sizes sb ON sb.id = p.b
),
two_dir AS (
  SELECT a AS contained, b AS container, n_common,
         n_a AS n_contained, n_b AS n_container FROM sized
  UNION ALL
  SELECT b AS contained, a AS container, n_common,
         n_b AS n_contained, n_a AS n_container FROM sized
)
SELECT * FROM two_dir WHERE n_common * {den} >= {num} * n_contained
"""


# --- cross-doc common-shingle stats (corpus boilerplate fraction) -------------

def common_shingle_stats(docs: DataFrame, min_df: int = 2,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Per doc: how much of it is made of shingles that recur elsewhere in
    the corpus — ``(id, n_shingles, n_common)`` where ``n_common`` counts
    the doc's distinct shingles whose corpus document-frequency is
    ``>= min_df``.  ``n_common / n_shingles`` is the corpus-boilerplate
    fraction used to drop template-heavy pages that survive pairwise dedup
    (no single partner is similar enough, but the page is assembled from
    ubiquitous fragments).

    Scale shape — strictly LINEAR, unlike the pairwise operators: the
    shingle relation aggregates by shingle (map-side-combined counters, a
    hot shingle is just a bigger count, never a join fan-out), joins back
    on the same key (co-partitioned with the groupBy, no extra shuffle of
    the big side under AQE), and re-aggregates by doc.  Zero-shingle docs
    (< NGRAM tokens) are preserved with 0/0 via a left join from the doc
    ids.
    """
    sh = _shingles(docs, id_col, text_col).localCheckpoint(eager=False)
    sh = sh.select(*[F.col(c).alias(c) for c in sh.columns])
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    per = (sh.join(dfreq, "shingle")
           .groupBy("id")
           .agg(F.count(F.lit(1)).alias("n_shingles"),
                F.sum(F.when(F.col("df") >= min_df, 1).otherwise(0))
                .alias("n_common")))
    ids = docs.select(F.col(id_col).alias("id"))
    return (ids.join(per, "id", "left")
            .select(F.col("id").alias(id_col),
                    F.coalesce("n_shingles", F.lit(0).cast("long"))
                    .alias("n_shingles"),
                    F.coalesce("n_common", F.lit(0).cast("long"))
                    .alias("n_common")))


def common_shingle_stats_sql(table: str, min_df: int = 2,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> str:
    """DuckDB twin of :func:`common_shingle_stats`.  The conditional SUM is
    CAST to BIGINT — DuckDB types un-cast integer SUMs as HUGEINT, which
    the driver's representation-sensitive hash rejects (selfcheck lint)."""
    return f"""
WITH sh AS ({_shingles_sql(table, id_col, text_col)}),
dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
per AS (
  SELECT id, COUNT(*) AS n_shingles,
         CAST(SUM(CASE WHEN df >= {min_df} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_common
  FROM sh JOIN dfreq USING (shingle) GROUP BY id)
SELECT d.{id_col} AS {id_col},
       coalesce(p.n_shingles, CAST(0 AS BIGINT)) AS n_shingles,
       coalesce(p.n_common, CAST(0 AS BIGINT)) AS n_common
FROM {table} d LEFT JOIN per p ON p.id = d.{id_col}
"""


# --- quality-aware survivor selection ----------------------------------------

def select_survivors(assignments: DataFrame, scores: DataFrame, *,
                     id_col: str = "doc_id", cluster_col: str = "cluster_id",
                     score_col: str = "score") -> DataFrame:
    """One representative per cluster: the member with the HIGHEST score
    (ties -> smallest id) — ``(cluster_id, id, score, n_members)``.

    Min-id survivor selection (what :func:`cluster_assignments` consumers
    get by keeping ``cluster_id == id``) throws away information: when a
    near-dup cluster mixes a full article with its truncated syndicated
    copies, production pipelines keep the best member (RefinedWeb keeps the
    longest, quality-filtered corpora keep the top classifier score), not
    the one with the lowest crawl id.

    Shape: a plain aggregation — ``max(struct(score, -id))`` picks the
    argmax with deterministic tie-breaking in ONE map-side-combinable pass,
    so there is no per-cluster sort and no window; cost is one shuffle on
    the cluster key regardless of cluster-size skew (a pathological
    million-member cluster is still just a running max per partition).
    ``assignments`` is ``(id, cluster_id)`` for every doc (e.g. from
    :func:`cluster_assignments`); ``scores`` is ``(id, score)`` with
    integer scores for cross-engine exactness.
    """
    j = (assignments.select(F.col(id_col), F.col(cluster_col))
         .join(scores.select(F.col(id_col), F.col(score_col)), id_col))
    agg = j.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max(F.struct(F.col(score_col).alias("s"),
                       (-F.col(id_col)).alias("nid"))).alias("__best"))
    return agg.select(
        cluster_col,
        (-F.col("__best.nid")).alias(id_col),
        F.col("__best.s").alias(score_col),
        "n_members")


def select_survivors_sql(assign_cte: str, scores_cte: str, *,
                         id_col: str = "doc_id",
                         cluster_col: str = "cluster_id",
                         score_col: str = "score") -> str:
    """DuckDB twin of :func:`select_survivors` — same argmax-by-struct rule
    (named struct literal: MAX(ROW(...)) would be unnamed and its fields
    inaccessible)."""
    return f"""
WITH sv_assign AS ({assign_cte}),
sv_scores AS ({scores_cte}),
sv_j AS (SELECT a.{cluster_col}, a.{id_col}, s.{score_col}
         FROM sv_assign a JOIN sv_scores s USING ({id_col})),
sv_agg AS (
  SELECT {cluster_col}, COUNT(*) AS n_members,
         MAX({{'s': {score_col}, 'nid': -{id_col}}}) AS best
  FROM sv_j GROUP BY {cluster_col})
SELECT {cluster_col}, -best.nid AS {id_col}, best.s AS {score_col}, n_members
FROM sv_agg
"""


# --- leakage-free split assignment --------------------------------------------

def leakfree_split(assignments: DataFrame, splits: list[tuple[str, int]], *,
                   id_col: str = "doc_id", cluster_col: str = "cluster_id",
                   salt: str = "split0") -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates across
    splits: the split is a deterministic hash of the CLUSTER id, so every
    member of a near-dup cluster lands in the same split —
    ``(id, cluster_id, split)``.

    Hashing the document id (what naive pipelines do) puts a page and its
    near-copy in train and test with probability ``p_train * p_test`` each
    — at web dup rates that is millions of eval rows the model has
    memorized.  Keying the hash on the cluster label closes the leak by
    construction; the split ratio then applies to CLUSTERS, which at
    realistic cluster-size distributions is within noise of the row ratio
    (and exact on singletons).

    ``splits`` is ``[(name, weight), ...]``; buckets ``md5(salt:cluster)
    % sum(weights)`` map to names by cumulative range — integer-exact,
    engine-portable, stable under repartitioning.  Map-side only (one
    projection over the assignments frame): the cluster computation
    upstream is where the shuffles live.
    """
    if not splits or any(w <= 0 for _, w in splits):
        raise ValueError("splits must be non-empty with positive weights")
    den = sum(w for _, w in splits)
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"),
                       F.col(cluster_col).cast("string"))), 1, 8),
        16, 10).cast("long")
    bucket = F.pmod(h, F.lit(den))
    # cumulative CASE from the left: ranges [0,w0), [w0,w0+w1), ...
    cum = 0
    expr = None
    for name, w in splits:
        cond = (bucket >= cum) & (bucket < cum + w)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        cum += w
    return assignments.select(
        F.col(id_col), F.col(cluster_col), expr.alias("split"))


def leakfree_split_sql(assign_cte: str, splits: list[tuple[str, int]], *,
                       id_col: str = "doc_id",
                       cluster_col: str = "cluster_id",
                       salt: str = "split0") -> str:
    """DuckDB twin of :func:`leakfree_split`."""
    den = sum(w for _, w in splits)
    h = (f"CAST('0x' || substr(md5('{salt}:' || "
         f"CAST({cluster_col} AS VARCHAR)), 1, 8) AS BIGINT)")
    cases, cum = [], 0
    for name, w in splits:
        cases.append(f"WHEN __b >= {cum} AND __b < {cum + w} THEN '{name}'")
        cum += w
    case = "CASE " + " ".join(cases) + " END"
    return f"""
WITH lf_a AS ({assign_cte}),
lf_b AS (SELECT {id_col}, {cluster_col}, ({h} % {den}) AS __b FROM lf_a)
SELECT {id_col}, {cluster_col}, {case} AS split FROM lf_b
"""
