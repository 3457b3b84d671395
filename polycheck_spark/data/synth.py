"""Deterministic synthetic data: Common-Crawl-style pages + geocoding.

The engine's input table shape (BASELINE.json input_hint):
    url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING

Everything here is pure Column arithmetic over ``spark.range`` — no RNG
objects, no Python in the row path — so the same (url, text, html, ...) is
produced for any partitioning, any number of executors, any rerun.  That is
what makes the "byte-identical text per url" invariant and checkpoint resume
testable.

Two geocoders:

* :func:`geocode_url_cols` — production path, xxhash64(url)-derived uniforms
  with a deliberate hot-spot mixture (HOT_FRACTION of pages snap into
  HOT_CENTERS) so skew handling is exercised.  Spark-only.
* :func:`geocode_arith_cols` / :func:`geocode_arith_sql` — arithmetic
  (Weyl/LCG-style) geocode of an integer id, emitted identically for Spark
  Columns and DuckDB SQL; used by driver-checked oracle queries over the
  ``documents`` table.  Both engines evaluate the same IEEE-double formula.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

LANGS = ["en", "de", "fr", "es", "zh", "pt", "ru", "ja"]

# hot-spot mixture: these (lon, lat) centers receive HOT_PERCENT% of pages
HOT_CENTERS = [(0.5, 0.25), (-73.9375, 40.75), (116.375, 39.9375)]
HOT_PERCENT = 20  # percent of pages snapped into hot cells


def generate_pages(spark: SparkSession, num_pages: int, partitions: int | None = None) -> DataFrame:
    """Deterministic pages table of exactly the input_hint shape."""
    df = spark.range(0, num_pages, 1, partitions) if partitions else spark.range(num_pages)
    pid = F.col("id")
    url = F.concat(F.lit("https://site-"), (pid % 9973).cast("string"),
                   F.lit(".example/p/"), pid.cast("string"))
    # text: 8-40 deterministic tokens drawn from a 4096-word vocabulary
    n_tokens = (F.pmod(F.xxhash64(url, F.lit(3)), F.lit(33)) + F.lit(8))
    text = F.concat_ws(
        " ",
        F.transform(F.sequence(F.lit(1), n_tokens),
                    lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(url, i), F.lit(4096)).cast("string"))),
    )
    html = F.encode(F.concat(F.lit("<html><head><title>p"), pid.cast("string"),
                             F.lit("</title></head><body>"), text, F.lit("</body></html>")), "utf-8")
    warc_ts = F.timestamp_seconds(F.lit(1577836800) + F.pmod(pid * 37 + 11, F.lit(94608000)))
    lang = F.element_at(F.array(*[F.lit(v) for v in LANGS]),
                        (F.pmod(F.xxhash64(url, F.lit(7)), F.lit(len(LANGS))) + 1).cast("int"))
    return df.select(url.alias("url"), warc_ts.alias("warc_ts"), html.alias("html"),
                     text.alias("text"), lang.alias("lang"))


def geocode_url_cols(url_col):
    """(lon, lat) Columns geocoding a url deterministically, with hot spots.

    Pure JVM expressions — ONE xxhash64 over the string, then integer mixing
    (hashing the url five times would dominate the geocode cost at scale).
    """
    hm = F.pmod(F.xxhash64(url_col), F.lit(1_000_000_007))  # one hash, < 2^30
    u1 = hm / F.lit(1_000_000_007.0)
    u2 = F.pmod(hm * F.lit(2654435761) + F.lit(40503), F.lit(999_999_937)) / F.lit(999_999_937.0)
    lon_uniform = F.lit(-180.0) + u1 * F.lit(360.0)
    lat_uniform = F.lit(-90.0) + u2 * F.lit(180.0)
    is_hot = F.pmod(hm * F.lit(2246822519) + F.lit(104729), F.lit(100)) < F.lit(HOT_PERCENT)
    hot_idx = F.pmod(hm * F.lit(97) + F.lit(13), F.lit(len(HOT_CENTERS)))
    hot_lon = F.element_at(F.array(*[F.lit(c[0]) for c in HOT_CENTERS]), (hot_idx + 1).cast("int"))
    hot_lat = F.element_at(F.array(*[F.lit(c[1]) for c in HOT_CENTERS]), (hot_idx + 1).cast("int"))
    # hot pages scatter +-0.005 deg around the hot center (all in one fine cell).
    # coalesce makes the output provably NON-NULLABLE: otherwise every join on
    # a derived key pushes an isnotnull(<whole geocode+morton tree>) filter
    # below the projections and re-evaluates the blown-up expression per row
    # (measured 15x the map-stage CPU).
    lon = F.coalesce(F.when(is_hot, hot_lon + (u1 - F.lit(0.5)) * F.lit(0.01)).otherwise(lon_uniform), F.lit(0.0))
    lat = F.coalesce(F.when(is_hot, hot_lat + (u2 - F.lit(0.5)) * F.lit(0.01)).otherwise(lat_uniform), F.lit(0.0))
    return lon, lat


def geocoded_pages(spark: SparkSession, num_pages: int, partitions: int | None = None) -> DataFrame:
    df = generate_pages(spark, num_pages, partitions)
    lon, lat = geocode_url_cols(F.col("url"))
    return df.withColumn("lon", lon).withColumn("lat", lat)


def generate_embeddings(spark: SparkSession, num_vecs: int,
                        dim: int = 16) -> DataFrame:
    """Deterministic (vec_id, embedding array<double>) table: component j of
    vector i is an xxhash64(i, j)-derived uniform in [-1, 1] — pure Column
    arithmetic like :func:`generate_pages`, so the same vector is produced
    for any partitioning/rerun (what makes embedding-job resume testable).
    Random vectors are near-orthogonal, so only deliberately injected
    perturbation copies form near-duplicate pairs."""
    df = spark.range(num_vecs)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (F.pmod(F.xxhash64(F.col("id"), j), F.lit(2001)) - F.lit(1000))
        / F.lit(1000.0))
    return df.select(F.col("id").alias("vec_id"), vec.alias("embedding"))


def inject_perturbed_copies(emb: DataFrame, dim: int, every: int,
                            offset: int) -> DataFrame:
    """Corpus + near-duplicate injections: every ``id % every == 0`` vector
    re-appears at ``id + offset`` with element 0 shifted by 0.25 —
    the deterministic ground truth the near-dup job and the stress harness
    measure recall against (random vectors are near-orthogonal, so these
    are the only constructed near-dups)."""
    pert = F.concat(F.array(F.element_at(F.col("embedding"), 1) + F.lit(0.25)),
                    F.slice(F.col("embedding"), 2, dim - 1))
    dups = (emb.filter(F.col("vec_id") % every == 0)
            .select((F.col("vec_id") + offset).alias("vec_id"),
                    pert.alias("embedding")))
    return emb.unionByName(dups)


# --- arithmetic geocode (Spark + DuckDB twins) ------------------------------

_M1, _A1, _P1 = 2654435761, 1013904223, 1000003
_M2, _A2, _P2 = 2246822519, 826366247, 999983
_HOT_MOD = 10          # ids with id % 10 < 2 are hot (20%)
_HOT_LT = 2


def geocode_arith_cols(id_col):
    """(lon, lat) Columns from an integer id; same formula as geocode_arith_sql."""
    i = id_col.cast("long")
    u1 = F.pmod(i * F.lit(_M1) + F.lit(_A1), F.lit(_P1)) / F.lit(float(_P1))
    u2 = F.pmod(i * F.lit(_M2) + F.lit(_A2), F.lit(_P2)) / F.lit(float(_P2))
    lon_u = F.lit(-180.0) + u1 * F.lit(360.0)
    lat_u = F.lit(-90.0) + u2 * F.lit(180.0)
    is_hot = F.pmod(i, F.lit(_HOT_MOD)) < F.lit(_HOT_LT)
    hot_idx = F.pmod(i, F.lit(len(HOT_CENTERS)))
    hot_lon = F.element_at(F.array(*[F.lit(c[0]) for c in HOT_CENTERS]), (hot_idx + 1).cast("int"))
    hot_lat = F.element_at(F.array(*[F.lit(c[1]) for c in HOT_CENTERS]), (hot_idx + 1).cast("int"))
    # coalesce for non-nullability (see geocode_url_cols); value unchanged
    lon = F.coalesce(F.when(is_hot, hot_lon + (u1 - F.lit(0.5)) * F.lit(0.01)).otherwise(lon_u), F.lit(0.0))
    lat = F.coalesce(F.when(is_hot, hot_lat + (u2 - F.lit(0.5)) * F.lit(0.01)).otherwise(lat_u), F.lit(0.0))
    return lon, lat


def geocode_arith_sql(id_expr: str) -> tuple[str, str]:
    """(lon_sql, lat_sql) computing bit-identical doubles in DuckDB."""
    i = f"CAST({id_expr} AS BIGINT)"
    u1 = f"((({i}) * {_M1} + {_A1}) % {_P1}) / {float(_P1)!r}"
    u2 = f"((({i}) * {_M2} + {_A2}) % {_P2}) / {float(_P2)!r}"
    hot_lon = "(CASE (" + i + f") % {len(HOT_CENTERS)} " + \
        " ".join(f"WHEN {k} THEN {c[0]!r}" for k, c in enumerate(HOT_CENTERS)) + " END)"
    hot_lat = "(CASE (" + i + f") % {len(HOT_CENTERS)} " + \
        " ".join(f"WHEN {k} THEN {c[1]!r}" for k, c in enumerate(HOT_CENTERS)) + " END)"
    lon = (f"(CASE WHEN ({i}) % {_HOT_MOD} < {_HOT_LT} "
           f"THEN {hot_lon} + (({u1}) - 0.5) * 0.01 "
           f"ELSE -180.0 + ({u1}) * 360.0 END)")
    lat = (f"(CASE WHEN ({i}) % {_HOT_MOD} < {_HOT_LT} "
           f"THEN {hot_lat} + (({u2}) - 0.5) * 0.01 "
           f"ELSE -90.0 + ({u2}) * 180.0 END)")
    return lon, lat
