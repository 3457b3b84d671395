"""Deterministic hash-based sampling.

Training-data pipelines need samples that are (a) reproducible across runs
and engines, (b) stable under repartitioning, and (c) stratifiable — none of
which ``df.sample()`` gives (it is seed+partition-layout dependent).  Here
membership is a pure function of the row key: md5(SALT:key) -> 32-bit int ->
keep iff ``hash % den < num``.  That is a Bernoulli(num/den) sample under
the random-oracle model, identical in Spark and DuckDB, and trivially
distributed (a map-side filter — no shuffle at any scale; Catalyst pushes it
into the scan's filter stage).

``stratified_sample`` takes per-stratum rational rates joined in as a small
broadcast table — per-class balancing (e.g. downsample 'en', keep all 'got')
without a shuffle on the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


#: hash salt of every sampler here
SALT = "s0"


def _hash(key_col):
    """First 8 md5 hex digits of 'SALT:key' as a long — the same md5-int
    scheme every LSH path uses (engine-parity proven)."""
    return F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{SALT}:"), key_col.cast("string"))), 1, 8),
        16, 10).cast("long")


def _hash_sql(key_expr: str) -> str:
    return (f"CAST('0x' || substr(md5('{SALT}:' || CAST({key_expr} AS VARCHAR)), 1, 8) "
            f"AS BIGINT)")


def _bucket(key_col, den: int):
    """Uniform bucket in [0, den) of :func:`_hash`."""
    return F.pmod(_hash(key_col), F.lit(den))


def _bucket_sql(key_expr: str, den: int) -> str:
    return f"({_hash_sql(key_expr)} % {den})"


def _sq(value: str) -> str:
    """SQL single-quote escape for interpolated stratum literals — the
    Spark side takes any string through F.lit, so the emitters must too
    (a value like "it's" previously produced a broken oracle query)."""
    return value.replace("'", "''")


def sample_hash(df: DataFrame, key_col: str, rate: tuple[int, int]) -> DataFrame:
    """Keep each row with probability num/den, deterministically by key
    (train/held-out splits: same den, complementary filters)."""
    num, den = rate
    if not 0 <= num <= den:
        raise ValueError("need 0 <= num <= den")
    return df.filter(_bucket(F.col(key_col), den) < num)


def sample_hash_sql(table: str, key_expr: str, rate: tuple[int, int]) -> str:
    num, den = rate
    return f"SELECT * FROM {table} WHERE {_bucket_sql(key_expr, den)} < {num}"


def stratified_sample(df: DataFrame, key_col: str, stratum_col: str,
                      rates: dict[str, tuple[int, int]], *,
                      default_rate: tuple[int, int] = (0, 1)) -> DataFrame:
    """Per-stratum deterministic sampling: stratum s keeps rate[s] of its
    rows (``default_rate`` for unlisted strata).  The rates ride a literal
    CASE expression (a handful of strata) — zero joins, zero shuffles; for
    thousands of strata switch to a broadcast-join rates table, same
    semantics."""
    num_c = F.lit(default_rate[0])
    den_c = F.lit(default_rate[1])
    for s, (num, den) in sorted(rates.items()):
        if not 0 <= num <= den:
            raise ValueError(f"bad rate for stratum {s!r}")
        cond = F.col(stratum_col) == s
        num_c = F.when(cond, F.lit(num)).otherwise(num_c)
        den_c = F.when(cond, F.lit(den)).otherwise(den_c)
    # common-denominator compare: bucket over a fixed modulus, scale the
    # threshold — hash % (den) < num requires per-stratum modulus; instead
    # use hash % LCM-free form: (hash % den) < num evaluated with the
    # stratum's own den via pmod on a Column modulus
    return df.filter(F.pmod(_hash(F.col(key_col)), den_c) < num_c)


def stratified_sample_sql(table: str, key_expr: str, stratum_col: str,
                          rates: dict[str, tuple[int, int]],
                          default_rate: tuple[int, int] = (0, 1)) -> str:
    num_c = str(default_rate[0])
    den_c = str(default_rate[1])
    for s, (num, den) in sorted(rates.items()):
        num_c = f"CASE WHEN {stratum_col} = '{_sq(s)}' THEN {num} ELSE {num_c} END"
        den_c = f"CASE WHEN {stratum_col} = '{_sq(s)}' THEN {den} ELSE {den_c} END"
    return (f"SELECT * FROM {table} "
            f"WHERE ({_hash_sql(key_expr)} % ({den_c})) < ({num_c})")


# --- temperature-scaled language mixing --------------------------------------

SQRT_SAMPLE_M = 1 << 32  # bucket modulus: the md5 bucket is 8 hex digits


def _isqrt_cols(n):
    """Exact integer sqrt of a BIGINT Column: double sqrt then a one-step
    integer correction (double sqrt is within 1 ulp for n < 2^53, so one
    +-1 adjustment lands exactly).  Engine-parity safe — the same
    correction runs in the SQL twin, so a boundary-rounding double never
    flips a row in one engine only."""
    s0 = F.floor(F.sqrt(n.cast("double"))).cast("long")
    return (s0
            + F.when((s0 + 1) * (s0 + 1) <= n, F.lit(1)).otherwise(F.lit(0))
            - F.when(s0 * s0 > n, F.lit(1)).otherwise(F.lit(0)))


def _isqrt_sql(n_expr: str) -> str:
    s0 = f"CAST(FLOOR(SQRT(CAST({n_expr} AS DOUBLE))) AS BIGINT)"
    return (f"({s0} + (CASE WHEN ({s0} + 1) * ({s0} + 1) <= {n_expr} THEN 1 ELSE 0 END)"
            f" - (CASE WHEN {s0} * {s0} > {n_expr} THEN 1 ELSE 0 END))")


def lang_temperature_sample(df: DataFrame, key_col: str, stratum_col: str,
                            rate: tuple[int, int]) -> DataFrame:
    """Temperature-flattened multilingual sampling (alpha = 0.5): keep each
    row of stratum ``l`` with probability ``min(1, num / (den * isqrt(n_l)))``
    where ``n_l`` is the stratum's row count — so expected kept mass per
    stratum is ``(num/den) * sqrt(n_l)``, the classic T=2 flattening that
    up-weights low-resource languages relative to their corpus share
    (strata small enough that ``num >= den * isqrt(n_l)`` are kept whole).

    ENTIRELY integer-exact and deterministic by key: membership compares
    ``bucket * den * isqrt(n_l) < 2^32 * num`` over the md5 bucket — no
    double arithmetic can flip a row between engines.  Other temperatures
    generalize via exact integer k-th roots (same correction trick).

    Scale shape: one map-side-combined count over the stratum column (tiny
    result — one row per language), broadcast back, then a map-side filter;
    the fact table is never shuffled.  Overflow-guarded: requires
    ``den * isqrt(n_l) < 2^31`` (holds through n_l ~ 10^12 docs for
    den <= 2000).
    """
    num, den = rate
    if num < 0 or den <= 0:
        raise ValueError("need num >= 0 and den > 0")
    cnt = df.groupBy(F.col(stratum_col).alias("__st")).count()
    s = cnt.select("__st", _isqrt_cols(F.col("count")).alias("__s"))
    joined = df.join(F.broadcast(s), df[stratum_col] == F.col("__st"), "left")
    bucket = _bucket(F.col(key_col), SQRT_SAMPLE_M)
    keep = (bucket * F.lit(den) * F.col("__s")
            < F.lit(SQRT_SAMPLE_M) * F.lit(num))
    return joined.filter(keep).drop("__st", "__s")


def lang_temperature_sample_sql(table: str, key_expr: str, stratum_col: str,
                                rate: tuple[int, int]) -> str:
    num, den = rate
    b = _bucket_sql(key_expr, SQRT_SAMPLE_M)
    return f"""
SELECT t.* FROM {table} t
JOIN (SELECT {stratum_col} AS st, {_isqrt_sql('COUNT(*)')} AS s
      FROM {table} GROUP BY 1) c ON t.{stratum_col} = c.st
WHERE {b} * {den} * c.s < {SQRT_SAMPLE_M} * {num}
"""


# --- per-stratum top-fraction selection ---------------------------------------

def top_fraction_per_stratum(df: DataFrame, stratum_col: str, score_col: str,
                             rate: tuple[int, int], *,
                             tie_col: str) -> DataFrame:
    """Quality-percentile cut: keep the top ``num/den`` fraction of each
    stratum by ``score_col`` (descending), i.e. rows with
    ``rank <= floor(n_stratum * num / den)`` under the total order
    ``(score DESC, tie ASC)``.  ``tie_col`` must be unique per stratum
    (e.g. the doc id) so the order — and therefore membership — is exact
    and engine-independent; all arithmetic is integer.  A stratum smaller
    than ``den/num`` rows keeps ``floor(n*num/den)`` rows, possibly zero.

    Scale shape: ONE window shuffle on the stratum (count and rank ride
    the same partitioning); a stratum is the unit of parallelism, so at
    corpus scale shard giant strata by a coarse score bucket first (rank
    within bucket + offset by the broadcast bucket-count prefix sum) —
    the same shard-the-group-key contract as packing.
    """
    num, den = rate
    if not 0 <= num <= den or den <= 0:
        raise ValueError("need 0 <= num <= den")
    w = Window.partitionBy(stratum_col).orderBy(
        F.col(score_col).desc(), F.col(tie_col).asc())
    wc = Window.partitionBy(stratum_col)
    ranked = df.select(
        "*", F.row_number().over(w).alias("__rk"),
        F.count(F.lit(1)).over(wc).alias("__n"))
    keep = F.col("__rk") * F.lit(den) <= F.col("__n") * F.lit(num)
    return ranked.filter(keep).drop("__rk", "__n")


def top_fraction_per_stratum_sql(table: str, stratum_col: str, score_col: str,
                                 rate: tuple[int, int],
                                 tie_col: str) -> str:
    num, den = rate
    return f"""
SELECT * EXCLUDE (__rk, __n) FROM (
  SELECT t.*,
         ROW_NUMBER() OVER (PARTITION BY {stratum_col}
                            ORDER BY {score_col} DESC, {tie_col} ASC) AS __rk,
         COUNT(*) OVER (PARTITION BY {stratum_col}) AS __n
  FROM {table} t)
WHERE __rk * {den} <= __n * {num}
"""


def sample_exact_k(df: DataFrame, key_col: str, stratum_col: str,
                   k: int) -> DataFrame:
    """EXACTLY ``min(k, |stratum|)`` rows per stratum, deterministically:
    rows ranked by ``(md5(SALT:key), key)`` within their stratum, ranks
    ``<= k`` kept (rank exposed as ``sample_rank``).  Rate-based sampling
    (:func:`sample_hash`) yields a binomial count per stratum; eval-set
    construction and per-class balancing need the count pinned — same
    determinism contract (pure function of the key, stable under
    repartitioning, engine-portable).

    Scale: rank-by-window is one hash shuffle on the stratum plus a
    per-stratum sort — fine until one stratum is corpus-sized.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    base = df.withColumn("__h", _hash(F.col(key_col)))
    w = (Window.partitionBy(stratum_col)
         .orderBy(F.col("__h"), F.col(key_col)))
    return (base.withColumn("sample_rank", F.row_number().over(w))
            .filter(F.col("sample_rank") <= k).drop("__h"))


def sample_exact_k_sql(table: str, key_expr: str, stratum_col: str,
                       k: int) -> str:
    """DuckDB twin of :func:`sample_exact_k`."""
    return f"""
SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY {stratum_col}
            ORDER BY {_hash_sql(key_expr)}, {key_expr}) AS BIGINT) AS sample_rank
FROM {table}
QUALIFY sample_rank <= {k}
"""
