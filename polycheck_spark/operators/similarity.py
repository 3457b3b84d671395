"""Similarity search over embedding columns (array<float>).

* :func:`cosine_topk` — brute-force exact top-k, the baseline and the
  verifier for the approximate paths.
* :func:`lsh_bucket_topk` — random-hyperplane LSH: deterministic pseudo-planes
  hashed from (plane, dim), sign-bit bucket key, candidates restricted to
  the same bucket or a 1-bit flip of it, exact rescoring inside buckets.
  :func:`near_dup_pairs` pairs a corpus with itself over the same buckets.
* :func:`ivf_topk` (inverted lists) and :func:`quantized_topk` (int8
  re-rank) — the other approximate paths.

Every path has a DuckDB twin (``*_sql``) that the oracle checks run.  The
Spark side is one Arrow-batch NumPy pass per path, with the dim-ordered fold
arithmetic below in place of Spark's interpreted array lambdas.  The batch
kernels are module-level functions bound with ``functools.partial``, so the
resumable jobs (``jobs/near_dup_job.py``, ``jobs/ann_topk_job.py``) run the
same LSH bucketer, IVF assigner, int8 scorer and cosine rescore as the
oracle-checked operators.

Outputs carry (query_id, target_id, rank) — ranks are float-order-robust
because embedding cosines are generic reals; both engines order by
(cosine DESC, target_id ASC).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window, functions as F

from polycheck_spark.session import local_frame, spread

N_PLANES = 8


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int, *,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k of each query against all embeddings.

    ``queries`` is small and collected driver-side (the same contract the
    broadcast join enforced); excludes self-matches.

    r8: the former interpreted-HOF broadcast join scored every (target,
    query) pair with ~10-50x-off-vectorized lambda expressions (Spark never
    codegens HOF lambdas) and shuffled ALL N x Q scored rows into the
    ranking window — 328 s at sf1.0.  Now one mapInPandas pass computes
    dim-ordered fold cosines (bit-identical to the DuckDB left fold — see
    the fold helpers below) and emits only per-batch top-k partials, so
    the window ranks O(k * n_batches) rows per query.  Output is
    bit-identical: same cosines, same ties, same ranks."""
    qids, qmat = _collect_queries(queries, id_col, vec_col)
    if qids is None:
        return _empty_ranked(embeddings)
    partial = _ranked_topk_partials(embeddings, qids, qmat, k,
                                    id_col=id_col, vec_col=vec_col)
    return _rank_partials(partial, k)


def _cos_sql(a: str, b: str) -> str:
    """Engine-parity cosine in DuckDB SQL (single source for every twin);
    same zero-norm guard as :func:`_guarded_cos_np`."""
    n2 = (f"(list_sum(list_transform({a}, x -> x * x))"
          f" * list_sum(list_transform({b}, x -> x * x)))")
    dot = f"list_sum(list_transform(range(len({a})), i -> {a}[i + 1] * {b}[i + 1]))"
    return f"(CASE WHEN {n2} > 0 THEN {dot} / sqrt({n2}) ELSE 0.0 END)"


# --- dim-ordered fold arithmetic (bit-exact NumPy twins of the SQL folds) ----
#
# The oracles' list_sum(list_transform(...)) is a SEQUENTIAL left fold:
# acc_{i+1} = acc_i + a[i]*b[i] in element order.  The same recurrence can be
# vectorized ACROSS ROWS while keeping the per-row operation order: loop over
# the dimension index and accumulate one elementwise product per step.  Every
# intermediate is the same IEEE-double value the DuckDB twin produces, so
# cosines — and therefore ranks, ties and threshold decisions — are
# bit-identical, at NumPy speed instead of the interpreted-lambda speed of
# Spark's array HOFs (Spark never codegens lambdas; guide §4).

#: guard band for GEMM-assisted candidate selection: ~10^4 x the worst
#: pairwise-vs-sequential summation divergence for dim <= 10^4 (~dim*eps);
#: selection uses it, decisions never do — they re-run the exact fold.
_TOPK_BAND = 1e-9


def _fold_dot(a, b):
    """Sequential dot over the last axis of two float64 arrays that
    broadcast: acc = acc + a[..., i] * b[..., i] in dimension order from
    zeros — the dim-ordered twin of :func:`_cos_sql`'s dot and norms (a
    with itself) and of :func:`_bucket_sql`'s per-plane projection.  Callers
    broadcast (``A[:, None, :]`` against ``Q[None, :, :]`` gives all pairs,
    O(B*Q) memory — bounded via Arrow batch size)."""
    import numpy as np
    acc = np.zeros(np.broadcast_shapes(a.shape, b.shape)[:-1])
    for i in range(a.shape[-1]):
        acc = acc + a[..., i] * b[..., i]
    return acc


def _guarded_cos_np(dot, na2, nb2):
    """cosine from fold dot + fold norms with :func:`_cos_sql`'s zero-norm
    guard (cosine is undefined there; a zero-norm vector scores 0.0), same
    op order: n2 = na2*nb2; dot/sqrt(n2) when n2 > 0 else 0."""
    import numpy as np
    n2 = na2 * nb2
    return np.divide(dot, np.sqrt(n2), out=np.zeros_like(dot), where=n2 > 0)


def _fold_buckets_np(mat, planes, powers):
    """Sign-bit LSH bucket ids from dim-ordered fold projections — bit-exact
    twin of :func:`_bucket_sql` (not ulp-approximate like a BLAS matmul:
    the fold order is preserved, so a projection that the oracle rounds to
    exactly 0.0 rounds to 0.0 here too)."""
    proj = _fold_dot(mat[:, None, :], planes[None, :, :])
    return ((proj > 0) @ powers).astype("int64")


def _vec_matrix(series):
    """(N, dim) float64 matrix from an Arrow-batch pandas column of
    embedding arrays (float32 -> float64 widening is exact)."""
    import numpy as np
    return np.array(list(series), dtype=np.float64)


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str):
    """Driver-side (qids, qmat) — queries are the small side by contract."""
    import numpy as np
    rows = queries.select(F.col(id_col),
                          F.col(vec_col).cast("array<double>")).collect()
    if not rows:
        return None, None
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    qmat = np.array([r[1] for r in rows], dtype=np.float64)
    return qids, qmat


def _ranked_topk_partials(embeddings: DataFrame, qids, qmat, k: int, *,
                          id_col: str, vec_col: str,
                          pair_mask=None) -> DataFrame:
    """(query_id, target_id, cosine) per-batch exact top-k partials.

    One pass over the targets: each Arrow batch computes dim-ordered fold
    cosines against the driver-side query matrix (all pairs, or only the
    pairs ``pair_mask(ids, tmat) -> (B, Q) bool`` admits), drops
    self-matches, and emits its per-query top-k by (cosine desc, id asc).
    Because emitted cosines ARE the exact fold values, the caller's final
    window reproduces the DuckDB twin's ranking bit-for-bit; per-batch
    top-k only prunes rows that can never reach the global top k."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    qn2 = _fold_dot(qmat, qmat)
    schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("target_id", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ])

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            tmat = _vec_matrix(pdf["__vec"])
            tn2 = _fold_dot(tmat, tmat)
            if pair_mask is None:
                # brute force: BLAS GEMM picks each query's per-batch
                # candidates with a guard band, then the dim-ordered fold
                # rescores ONLY those ~k rows — bit-exact output at GEMM
                # speed (a full fold matrix measured 4.8x slower at the
                # 16M-vector scaling workload).  Soundness: per-row
                # |gemm - fold| <= ~dim*eps (~1e-14 at dim 10^4), so with
                # BAND = 1e-9 any true top-k row r has gemm_r >= fold_r -
                # BAND/2 >= fold_kth - BAND/2 >= gemm_kth - BAND (order
                # statistics are 1-Lipschitz in sup norm) — always inside
                # the selection; ties are then decided on exact folds.
                tn = np.sqrt(tn2)[:, None]
                qn = np.sqrt(qn2)[:, None]
                gemm = (np.divide(tmat, np.where(tn > 0, tn, 1.0))
                        @ np.divide(qmat, np.where(qn > 0, qn, 1.0)).T)
                gemm[ids[:, None] == qids[None, :]] = -np.inf
                kk = min(k, gemm.shape[0])
                out_q, out_t, out_c = [], [], []
                for j in range(gemm.shape[1]):
                    col = gemm[:, j]
                    thresh = np.partition(col, -kk)[-kk] - _TOPK_BAND
                    # isfinite: a batch holding only the query itself has
                    # an all--inf column, and -inf >= -inf would select it
                    sel = np.flatnonzero((col >= thresh) & np.isfinite(col))
                    if not len(sel):
                        continue
                    cos = _guarded_cos_np(
                        _fold_dot(tmat[sel], qmat[j]),
                        tn2[sel], qn2[j])
                    order = np.lexsort((ids[sel], -cos))[:kk]
                    out_q.append(np.full(len(order), qids[j], dtype=np.int64))
                    out_t.append(ids[sel[order]])
                    out_c.append(cos[order])
                yield pd.DataFrame({
                    "query_id": np.concatenate(out_q) if out_q else np.array([], dtype=np.int64),
                    "target_id": np.concatenate(out_t) if out_t else np.array([], dtype=np.int64),
                    "cosine": np.concatenate(out_c) if out_c else np.array([], dtype=np.float64),
                })
                continue
            mask = pair_mask(ids, tmat)
            mask &= ids[:, None] != qids[None, :]
            bi, qi = np.nonzero(mask)
            if not len(bi):
                continue
            dot = _fold_dot(tmat[bi], qmat[qi])
            cos = _guarded_cos_np(dot, tn2[bi], qn2[qi])
            order = np.lexsort((ids[bi], -cos, qi))
            qs = qi[order]
            idx = np.arange(len(qs))
            starts = np.where(np.r_[True, qs[1:] != qs[:-1]], idx, 0)
            rank_in_q = idx - np.maximum.accumulate(starts)
            keep = order[rank_in_q < k]
            yield pd.DataFrame({
                "query_id": qids[qi[keep]],
                "target_id": ids[bi[keep]],
                "cosine": cos[keep],
            })

    src = spread(embeddings.select(F.col(id_col).alias("__id"),
                                   F.col(vec_col).alias("__vec")))
    return src.mapInPandas(score, schema)


def _rank_partials(partial: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("target_id").asc())
    return (partial.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "target_id", "rank"))


def _empty_ranked(df: DataFrame) -> DataFrame:
    """Empty (query_id, target_id, rank) frame — what every top-k path
    returns for an empty query set.  The paths collect the queries
    driver-side first, so they must synthesize it rather than raise on the
    empty-filter edge case."""
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField("target_id", T.LongType()),
        T.StructField("rank", T.IntegerType(), False),
    ])
    return local_frame(df.sparkSession, [], schema)


def cosine_topk_sql(table: str, queries_filter: str, k: int,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    """DuckDB twin using explicit per-element sums (the left fold
    :func:`_fold_dot` reproduces)."""
    return f"""
WITH t AS (SELECT {id_col} AS target_id,
                  list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS tvec FROM {table}),
q AS (SELECT {id_col} AS query_id,
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS qvec
      FROM {table} WHERE {queries_filter}),
scored AS (
  SELECT q.query_id, t.target_id, {_cos_sql("qvec", "tvec")} AS cosine
  FROM t JOIN q ON t.target_id <> q.query_id
),
ranked AS (
  SELECT query_id, target_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, target_id ASC) AS rank
  FROM scored
)
SELECT query_id, target_id, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= {k}
"""


IVF_CENTROID_BUDGET = 64   # coarse-quantizer size target — FIXED, not O(N)
IVF_NPROBE = 4


def _centroid_modulus(n_vectors: int, n_centroids: int) -> int:
    """Deterministic centroid selector: ids with ``id % m == 0`` where
    ``m = max(1, N // budget)``.  Centroid count is ~budget (bounded by
    2*budget for N >= budget) — independent of data size, unlike a fixed
    modulus whose centroid count grows linearly with N."""
    return max(1, n_vectors // max(1, n_centroids))


def _ivf_centroids(embeddings: DataFrame, n_vectors: int, n_centroids: int,
                   *, id_col: str, vec_col: str):
    """Driver-side coarse quantizer ``(cids, cmat, cn2)``, cid ascending, or
    None for an empty centroid set.  The centroids are the ids divisible by
    :func:`_centroid_modulus` — a fixed budget, so the collect is bounded at
    any data size."""
    import numpy as np
    mod = _centroid_modulus(n_vectors, n_centroids)
    rows = (embeddings.filter(F.col(id_col) % mod == 0)
            .select(F.col(id_col), F.col(vec_col).cast("array<double>"))
            .collect())
    if not rows:
        return None
    rows.sort(key=lambda r: r[0])              # cid ascending: first max
    cmat = np.array([r[1] for r in rows], dtype=np.float64)
    return (np.array([r[0] for r in rows], dtype=np.int64), cmat,
            _fold_dot(cmat, cmat))


def _centroid_cos(cents, mat):
    """(N, C) fold cosines of each row of ``mat`` against every centroid."""
    _, cmat, cn2 = cents
    return _guarded_cos_np(_fold_dot(mat[:, None, :], cmat[None, :, :]),
                           _fold_dot(mat, mat)[:, None], cn2[None, :])


def _ivf_assign(cents, mat):
    """Each row's IVF list: the max-cosine centroid, ties -> lowest cid."""
    import numpy as np
    return cents[0][np.argmax(_centroid_cos(cents, mat), axis=1)]


def _ivf_probe_lists(cents, qmat, n_probe: int):
    """(Q, min(n_probe, C)) probed lists per query: its nearest centroids by
    (cosine desc, cid asc)."""
    import numpy as np
    cids = cents[0]
    qcos = _centroid_cos(cents, qmat)
    keepn = min(n_probe, len(cids))
    return np.stack([cids[np.lexsort((cids, -qcos[j]))[:keepn]]
                     for j in range(len(qmat))])


def _ivf_pair_mask(cents, qprobe, ids, tmat):
    """(B, Q) admitted pairs: the target's list is among the query's probed
    lists."""
    assign = _ivf_assign(cents, tmat)
    return (assign[:, None, None] == qprobe[None, :, :]).any(axis=2)


def _ivf_list_batches(cents, vec_col: str, batches):
    """Each row of a batch with its IVF ``list_id`` appended."""
    for pdf in batches:
        if len(pdf):
            yield pdf.assign(list_id=_ivf_assign(cents, _vec_matrix(pdf[vec_col])))


def ivf_lists(embeddings: DataFrame, cents, *,
              vec_col: str = "embedding") -> DataFrame:
    """``embeddings`` with each row's IVF ``list_id`` (long) appended — the
    assignment :func:`ivf_topk` masks its targets with, in one Arrow-batch
    pass over the driver-collected centroids ``cents``."""
    from pyspark.sql import types as T
    schema = T.StructType(embeddings.schema.fields
                          + [T.StructField("list_id", T.LongType())])
    return spread(embeddings).mapInPandas(
        functools.partial(_ivf_list_batches, cents, vec_col), schema)


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int, *,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_probe: int = IVF_NPROBE,
             n_centroids: int = IVF_CENTROID_BUDGET,
             n_vectors: int | None = None) -> DataFrame:
    """IVF-flat approximate cosine top-k — the inverted-list alternative to
    :func:`lsh_bucket_topk`.

    Coarse quantizer: a deterministic centroid subset of ~``n_centroids``
    vectors (ids divisible by ``max(1, N // n_centroids)``) — the centroid
    count is a FIXED budget, never O(N), so the centroid table stays
    broadcast-able at any data size.  Pass ``n_vectors`` (a known/estimated
    count — table stats, snapshot manifest) to skip the ``count()`` scan;
    on parquet that count is footer-metadata-only anyway.  When verifying
    against :func:`ivf_topk_sql`, pass the SAME ``n_vectors`` to the
    emitter (its default recomputes ``COUNT(*)`` — correct only if the
    Spark side counted exactly): any estimate that changes
    ``N // n_centroids`` would silently select a different centroid set.  At 10^12 vectors
    set ``n_centroids ~ sqrt(N)`` (the classical IVF balance: assignment
    N*sqrt(N) dot products, probe lists of ~sqrt(N)); the default fixed 64
    is sized for the test corpora.

    Every vector joins its single nearest list, every query probes its
    ``n_probe`` nearest lists; candidates are rescored exactly and ranked.
    The candidate join is an equi-join on list_id — never an all-pairs
    product.  All arithmetic is double (bit-identical across engines), so
    the whole path is oracle-checkable (:func:`ivf_topk_sql`).

    r8: assignment + rescore now run as ONE fold-exact mapInPandas pass
    (see :func:`cosine_topk`): the centroid table (fixed budget — always
    driver-small) is collected once, each target batch fold-assigns its
    vectors (argmax over cid-ascending centroids = max cosine, tie ->
    lowest cid, exactly the former groupBy(max(struct)) semantics), masks
    itself against the driver-side query probe lists, and fold-rescores
    only admitted pairs.  A target sits in exactly ONE list and a query's
    probed lists are pairwise distinct, so each pair is considered at most
    once (invariant pinned by test_ann_outputs_have_no_duplicate_pairs);
    cosines, ties and ranks are bit-identical to the former join."""
    n = n_vectors if n_vectors is not None else embeddings.count()
    cents = _ivf_centroids(embeddings, n, n_centroids,
                           id_col=id_col, vec_col=vec_col)
    qids, qmat = _collect_queries(queries, id_col, vec_col)
    if qids is None or cents is None:
        # empty queries or an empty centroid set both joined to nothing in
        # the former Column plan — preserve that, don't raise
        return _empty_ranked(embeddings)
    qprobe = _ivf_probe_lists(cents, qmat, n_probe)
    partial = _ranked_topk_partials(
        embeddings, qids, qmat, k, id_col=id_col, vec_col=vec_col,
        pair_mask=functools.partial(_ivf_pair_mask, cents, qprobe))
    return _rank_partials(partial, k)


def ivf_topk_sql(table: str, queries_filter: str, k: int,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 n_probe: int = IVF_NPROBE,
                 n_centroids: int = IVF_CENTROID_BUDGET,
                 n_vectors: int | None = None) -> str:
    """DuckDB twin of :func:`ivf_topk` (same centroids, same assignment).

    The centroid modulus comes from ``n_vectors`` when given — pass the SAME
    value the Spark side was called with, so an estimated count still selects
    identical centroids on both engines.  With ``n_vectors=None`` the modulus
    is computed in SQL from ``COUNT(*)``, matching a Spark side that counted
    exactly (the default).  Mixing an estimate on one side with an exact
    count on the other would silently pick different centroid sets."""
    def assign(src: str, idc: str, vc: str, keep) -> str:
        return f"""
  SELECT {idc}, {vc}, cid AS list_id FROM (
    SELECT s.{idc}, s.{vc}, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.{idc}
                              ORDER BY {_cos_sql(f's.{vc}', 'c.cvec')} DESC,
                                       c.cid ASC) AS crank
    FROM {src} s CROSS JOIN cents c
  ) WHERE crank <= {keep}"""
    if n_vectors is not None:
        cmod = f"SELECT {_centroid_modulus(n_vectors, n_centroids)} AS m"
    else:
        cmod = f"SELECT GREATEST(1, COUNT(*) // {max(1, n_centroids)}) AS m FROM {table}"
    return f"""
WITH cmod AS ({cmod}),
cents AS (SELECT {id_col} AS cid,
                 list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS cvec
          FROM {table} WHERE {id_col} % (SELECT m FROM cmod) = 0),
t AS (SELECT {id_col} AS target_id,
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS tvec FROM {table}),
q AS (SELECT {id_col} AS query_id,
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS qvec
      FROM {table} WHERE {queries_filter}),
ta AS ({assign('t', 'target_id', 'tvec', 1)}),
qa AS ({assign('q', 'query_id', 'qvec', n_probe)}),
scored AS (
  SELECT query_id, target_id, {_cos_sql('qvec', 'tvec')} AS cosine
  FROM ta JOIN qa USING (list_id)
  WHERE target_id <> query_id
),
ranked AS (
  SELECT query_id, target_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, target_id ASC) AS rank
  FROM scored
)
SELECT query_id, target_id, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= {k}
"""


@functools.lru_cache(maxsize=None)
def _plane_weights(dim: int, n_planes: int = N_PLANES) -> tuple[tuple[float, ...], ...]:
    """The n_planes x dim hyperplane weight matrix, computed ONCE driver-side.

    Each weight is a deterministic pseudo-hyperplane component in [-1, 1):
    the first 8 md5 hex digits of 'plane:dim' mapped affinely.  md5 is the
    one hash both engines compute identically (same scheme as
    text._tok_int), and the arithmetic is the same IEEE-double affine map
    as :func:`_plane_component_sql` — the two are bit-identical (pinned by
    tests/test_text_ops.py), so the whole LSH path is oracle-expressible."""
    import hashlib
    rows = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:8], 16)
            row.append((h % 2_000_003 - 1_000_001.5) / 1_000_001.5)
        rows.append(tuple(row))
    return tuple(rows)


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding width from one row (a single-row scan — negligible at any
    scale; pass ``dim`` explicitly when the schema registry knows it)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"]) if row is not None else 0


def _lsh_planes(dim: int, n_planes: int):
    """(planes, powers): the (n_planes, dim) float64 weight matrix and the
    bit value of each plane's sign."""
    import numpy as np
    return (np.array(_plane_weights(dim, n_planes), dtype=np.float64),
            (1 << np.arange(n_planes)).astype(np.int64))


#: per-bucket population the corpus-scaled plane count aims for
TARGET_BUCKET_POP = 16


def scaled_n_planes(n_vectors: int) -> int:
    """LSH plane count for a corpus of ``n_vectors``: ~log2(N /
    TARGET_BUCKET_POP), at least the oracle-pinned :data:`N_PLANES`.

    Per-bucket candidate cost is quadratic in bucket population, so the
    plane count must GROW with the corpus to hold population constant — the
    fixed 8-plane setting the oracle queries pin degrades quadratically past
    ~10^5 uniform vectors (measured: 100k vectors x 8 planes = ~190M
    candidate pairs; x13 planes = ~10M).  More planes trade recall per
    probe (each extra plane adds a sign-flip chance the 1-bit probes must
    absorb) — the standard LSH tuning surface."""
    return max(N_PLANES, (max(2, n_vectors // TARGET_BUCKET_POP) - 1).bit_length())


def _probe_keys(bucket, n_planes: int) -> list:
    """The LSH probe set of a bucket Column: itself and its ``n_planes``
    one-bit flips (pairwise distinct, so a pair meets at most once)."""
    return [bucket] + [bucket.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]


def _bucketize_batches(planes, powers, batches):
    """(vid, bucket, v): each row of a (vid, v) batch stamped with its
    dim-ordered-fold LSH bucket."""
    import numpy as np
    import pandas as pd
    for pdf in batches:
        if not len(pdf):
            continue
        buckets = _fold_buckets_np(_vec_matrix(pdf["v"]), planes, powers)
        yield pd.DataFrame({"vid": pdf["vid"].to_numpy(dtype=np.int64),
                            "bucket": buckets,
                            "v": pdf["v"]})


def lsh_buckets(embeddings: DataFrame, dim: int, n_planes: int, *,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vid, bucket, v): every vector with its sign-bit LSH bucket over
    ``n_planes`` md5 hyperplanes — one Arrow-batch pass, bit-exact vs
    :func:`_bucket_sql`.  Vectors keep their input element type."""
    vtype = embeddings.schema[vec_col].dataType.simpleString()
    src = spread(embeddings.select(F.col(id_col).alias("vid"),
                                   F.col(vec_col).alias("v")))
    return src.mapInPandas(
        functools.partial(_bucketize_batches, *_lsh_planes(dim, n_planes)),
        f"vid long, bucket long, v {vtype}")


def _rescore_pairs(num: int, den: int, cap, ex_pdf, pr_pdf):
    """(a, b) pairs of one LSH bucket: exact-side rows (vid, v) against
    probe-side rows (pvid, pv), a < b and fold cosine * den >= num.  A
    bucket whose exact-side population exceeds ``cap`` yields nothing."""
    import numpy as np
    import pandas as pd
    out_a, out_b = [], []
    if len(ex_pdf) and len(pr_pdf) and (cap is None or len(ex_pdf) <= cap):
        a_ids = ex_pdf["vid"].to_numpy(dtype=np.int64)
        b_ids = pr_pdf["pvid"].to_numpy(dtype=np.int64)
        amat = _vec_matrix(ex_pdf["v"])
        bmat = _vec_matrix(pr_pdf["pv"])
        na2 = _fold_dot(amat, amat)
        nb2 = _fold_dot(bmat, bmat)
        # GEMM margins decide every pair clear of the threshold by the guard
        # band; the (empirically empty) boundary band is re-decided with the
        # exact dim-ordered fold — the accepted set is bit-identical to an
        # all-fold rescore at BLAS speed (band analysis: see _TOPK_BAND;
        # margins scale by den).
        an = np.sqrt(na2)[:, None]
        bn = np.sqrt(nb2)[:, None]
        amatn = np.divide(amat, np.where(an > 0, an, 1.0))
        bmatn = np.divide(bmat, np.where(bn > 0, bn, 1.0))
        band = _TOPK_BAND * den
        # chunk the exact side so the pair matrix stays bounded
        step = max(1, (1 << 22) // max(1, len(b_ids)))
        for lo in range(0, len(a_ids), step):
            hi = min(lo + step, len(a_ids))
            margin = (amatn[lo:hi] @ bmatn.T) * den - num
            ordered = a_ids[lo:hi, None] < b_ids[None, :]
            accept = ordered & (margin >= band)
            gray = ordered & (np.abs(margin) < band)
            gi, gj = np.nonzero(gray)
            if len(gi):
                cos = _guarded_cos_np(
                    _fold_dot(amat[lo:hi][gi], bmat[gj]),
                    na2[lo:hi][gi], nb2[gj])
                accept[gi, gj] = cos * den >= num
            ai, bi = np.nonzero(accept)
            out_a.append(a_ids[lo:hi][ai])
            out_b.append(b_ids[bi])
    return pd.DataFrame({
        "a": np.concatenate(out_a) if out_a else np.array([], dtype=np.int64),
        "b": np.concatenate(out_b) if out_b else np.array([], dtype=np.int64),
    })


def _bucket_pairs(exact: DataFrame, probe: DataFrame,
                  threshold: tuple[int, int], cap=None) -> DataFrame:
    """(a, b) near-dup pairs of exact-side rows (vid, bucket, v) against
    probe-side rows (pvid, pbucket, pv): one cogrouped rescore per bucket.
    The probe side must carry attribute ids of its own (fresh aliases) when
    both sides derive from one relation — shared ids make the Python-runner
    argument dedup collapse the probe payload into the exact side's."""
    num, den = threshold
    return (exact.groupby("bucket").cogroup(probe.groupby("pbucket"))
            .applyInPandas(functools.partial(_rescore_pairs, num, den, cap),
                           "a long, b long"))


def lsh_bucket_topk(embeddings: DataFrame, queries: DataFrame, k: int, *,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    dim: int | None = None) -> DataFrame:
    """Approximate cosine top-k: candidates share an LSH bucket (or differ by
    one sign bit), rescored exactly, ranked per query.  ``dim`` is inferred
    from one row when omitted.

    r8: one mapInPandas pass replaces the interpreted-HOF bucketer + rescore
    (both ran as uncompiled lambdas) and the bucket join: each target batch
    derives its buckets with the dim-ordered fold (bit-exact vs
    :func:`_bucket_sql`), masks itself against the driver-side query
    probe sets, fold-rescores only the admitted pairs, and emits per-batch
    top-k partials.  Candidate set, cosines, ties and ranks are identical
    to the former join (a target has ONE bucket and a query's probe keys
    are pairwise distinct, so each pair is considered at most once)."""
    import numpy as np
    if dim is None:
        dim = _infer_dim(embeddings, vec_col)
    qids, qmat = _collect_queries(queries, id_col, vec_col)
    if qids is None:
        return _empty_ranked(embeddings)
    planes, powers = _lsh_planes(dim, N_PLANES)
    qb = _fold_buckets_np(qmat, planes, powers)
    probe_arr = np.stack([qb] + [qb ^ (1 << p) for p in range(N_PLANES)],
                         axis=1)                         # Q x (P+1)

    def pair_mask(ids, tmat):
        tb = _fold_buckets_np(tmat, planes, powers)
        return (tb[:, None, None] == probe_arr[None, :, :]).any(axis=2)

    partial = _ranked_topk_partials(embeddings, qids, qmat, k,
                                    id_col=id_col, vec_col=vec_col,
                                    pair_mask=pair_mask)
    return _rank_partials(partial, k)


def near_dup_pairs(embeddings: DataFrame, threshold: tuple[int, int] = (19, 20), *,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   dim: int | None = None,
                   max_bucket_freq: int | None = None,
                   n_planes: int = N_PLANES) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b) with a < b and
    cosine(a, b) >= num/den.

    Candidates are restricted to shared LSH buckets (1-bit probes, same md5
    hyperplanes as :func:`lsh_bucket_topk`), exact cosine rescore inside
    buckets — never an all-pairs product.  :func:`near_dup_pairs_sql` with
    ``mode='exact'`` is the brute-force all-pairs verifier.  The threshold
    is rational (num, den) cross-multiplied so there is no float-literal
    boundary drift between engines.

    ``max_bucket_freq``: hot-bucket cap for scale.  A bucket holding S
    vectors yields ~S^2 candidate rows, so one degenerate bucket (e.g.
    millions of near-zero or boilerplate embeddings hashing alike) melts
    the rescore at 100x data.  With the cap, buckets whose exact-key
    population exceeds it are dropped from candidate generation entirely —
    strictly conservative (capped output is a subset of uncapped).  None
    disables the cap (exact LSH semantics; what the driver oracle checks).

    ``n_planes``: LSH plane count — pass the same count to
    :func:`near_dup_pairs_sql` when verifying (its plane derivation is
    width-parameterized too); size it with :func:`scaled_n_planes` at
    corpus scale so per-bucket candidate cost stays constant (scale
    settings are additionally recall-pinned by the stress harness).

    r8 shape (guide §8: decide locally, move heavy bytes once): the former
    path shuffled CANDIDATE-PAIR ids out of the bucket join and then
    attached both vectors to every pair with two id joins — at sf1.0 that
    shipped each vector once per candidate pair (~pairs x 2 x 512 B, the
    dominant exchange) into an interpreted-HOF rescore (165 s; the Arrow
    variant still paid the joins, 31 s).  Now ONE mapInPandas pass
    (:func:`lsh_buckets`) stamps each vector with its dim-ordered-fold
    bucket, the exact side groups by bucket, the probe side explodes its
    n_planes+1 probe keys, and a cogrouped applyInPandas rescore
    (:func:`_rescore_pairs`) forms the per-bucket pair matrix IN MEMORY with
    fold cosines — vectors ride the shuffle (n_planes + 2) times total,
    independent of the candidate count, and only passing (a, b) pairs are
    emitted.  The accepted set is bit-identical: same buckets, same probe
    keys, same fold cosine, same rational-threshold comparison.
    """
    if dim is None:
        dim = _infer_dim(embeddings, vec_col)
    # vectors keep their element type through the shuffle: float32 corpora
    # ship half the exchange bytes of the old array<double> join sides
    # (guide §2.3), and the fold widens to float64 in memory exactly
    bk = lsh_buckets(embeddings, dim, n_planes, id_col=id_col, vec_col=vec_col) \
        .localCheckpoint(eager=False)   # ONE bucketing pass feeds both sides
    # the probe side re-aliases EVERY column (see _bucket_pairs): both
    # cogroup sides derive from the same checkpointed frame — the same
    # self-join-over-checkpoint trap connected_components documents
    pr = bk.select(F.col("vid").alias("pvid"), F.col("v").alias("pv"),
                   F.explode(F.array(*_probe_keys(F.col("bucket"), n_planes)))
                   .alias("pbucket"))
    return _bucket_pairs(bk, pr, threshold, max_bucket_freq)


def near_dup_pairs_sql(table: str, threshold: tuple[int, int] = (19, 20),
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       mode: str = "lsh",
                       max_bucket_freq: int | None = None,
                       n_planes: int = N_PLANES) -> str:
    """DuckDB twin of :func:`near_dup_pairs` (same buckets, same rescore).
    ``max_bucket_freq`` mirrors the Spark hot-bucket cap: buckets whose
    exact-key population exceeds it are excluded from pairing (filtering the
    exact side alone is output-equivalent to filtering both — probe rows
    only match buckets present on the exact side).  ``n_planes`` mirrors
    :func:`near_dup_pairs`'s plane count (the md5 plane derivation is
    width-parameterized, so any count matches the Spark side)."""
    num, den = threshold
    cos = _cos_sql("avec", "bvec")
    if mode == "lsh":
        probes = ", ".join(["qbucket"] + [f"xor(qbucket, {1 << p})" for p in range(n_planes)])
        tb_cap = ""
        if max_bucket_freq is not None:
            tb_cap = f"\n        QUALIFY COUNT(*) OVER (PARTITION BY bucket) <= {max_bucket_freq}"
        cand = f"""
t AS (SELECT {id_col} AS a, list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS avec
      FROM {table}),
tb AS (SELECT a, avec, {_bucket_sql('avec', n_planes)}::BIGINT AS bucket FROM t{tb_cap}),
u AS (SELECT {id_col} AS b, list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS bvec
      FROM {table}),
qb AS (SELECT b, bvec, {_bucket_sql('bvec', n_planes)}::BIGINT AS qbucket FROM u),
ub AS (SELECT b, bvec, unnest([{probes}]) AS bucket FROM qb),
cand AS (SELECT a, b, avec, bvec
         FROM tb JOIN ub USING (bucket) WHERE a < b)"""
    else:
        cand = f"""
cand AS (
  SELECT x.{id_col} AS a, y.{id_col} AS b,
         list_transform(x.{vec_col}, v -> CAST(v AS DOUBLE)) AS avec,
         list_transform(y.{vec_col}, v -> CAST(v AS DOUBLE)) AS bvec
  FROM {table} x JOIN {table} y ON x.{id_col} < y.{id_col})"""
    return f"""
WITH {cand}
SELECT a, b FROM cand WHERE ({cos}) * {den} >= {num}
"""


def _plane_component_sql(plane: int, dim_expr: str) -> str:
    return (f"(CAST('0x' || substr(md5('{plane}:' || CAST({dim_expr} AS VARCHAR)), 1, 8) "
            f"AS BIGINT) % 2000003 - 1000001.5e0) / 1000001.5e0")


def _bucket_sql(vec: str, n_planes: int = N_PLANES) -> str:
    bits = []
    for p in range(n_planes):
        proj = (f"list_sum(list_transform(range(len({vec})), "
                f"i -> {vec}[i + 1] * ({_plane_component_sql(p, 'i')})))")
        bits.append(f"CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


def lsh_bucket_topk_sql(table: str, queries_filter: str, k: int,
                        id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    """DuckDB twin of :func:`lsh_bucket_topk`: identical md5
    plane weights, sign-bit buckets, 1-bit probes, exact rescore + rank."""
    probes = ", ".join(["qbucket"] + [f"xor(qbucket, {1 << p})" for p in range(N_PLANES)])
    return f"""
WITH t AS (SELECT {id_col} AS target_id,
                  list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS tvec FROM {table}),
tb AS (SELECT target_id, tvec, {_bucket_sql('tvec')}::BIGINT AS bucket FROM t),
q AS (SELECT {id_col} AS query_id,
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS qvec
      FROM {table} WHERE {queries_filter}),
qb AS (SELECT query_id, qvec, {_bucket_sql('qvec')}::BIGINT AS qbucket FROM q),
probes AS (SELECT query_id, qvec, unnest([{probes}]) AS bucket FROM qb),
scored AS (
  SELECT query_id, target_id, {_cos_sql("qvec", "tvec")} AS cosine
  FROM tb JOIN probes USING (bucket)
  WHERE target_id <> query_id
),
ranked AS (
  SELECT query_id, target_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, target_id ASC) AS rank
  FROM scored
)
SELECT query_id, target_id, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= {k}
"""


# --- int8 two-stage re-rank ANN ----------------------------------------------

QUANT_TOPM = 50


def _quant_np(mat):
    """int8 floor-quantization of each row: scale = 127/max|x| (0 for the
    zero vector), value = floor(x * scale) — float64 multiply then floor,
    so every int matches :func:`quantized_topk_sql` exactly."""
    import numpy as np
    mx = np.abs(mat).max(axis=1, keepdims=True)
    scale = np.divide(127.0, mx, out=np.zeros_like(mx), where=mx > 0)
    return np.floor(mat * scale).astype(np.int64)


def _int8_topm_batches(qids, qmat, m: int, pair_mask, batches):
    """(query_id, target_id, idot, cosine) per-batch int8 top-m partials.

    Each (__id, __vec) batch is quantized, scored against the quantized
    queries with an exact integer dot, and keeps per query its top ``m``
    by (idot desc, id asc) among the admitted pairs — all pairs, or only
    those ``pair_mask(ids, tmat) -> (B, Q) bool`` admits — never a
    self-match.  Kept rows carry the dim-ordered-fold exact cosine too, so
    the caller's rerank needs no vector rejoin."""
    import numpy as np
    import pandas as pd
    qq = _quant_np(qmat).astype(np.float64)           # Q x D
    qn2 = _fold_dot(qmat, qmat)
    for pdf in batches:
        if not len(pdf):
            continue
        ids = pdf["__id"].to_numpy(dtype=np.int64)
        tmat = _vec_matrix(pdf["__vec"])
        admit = ids[:, None] != qids[None, :]
        if pair_mask is not None:
            admit &= pair_mask(ids, tmat)
        # float64 GEMM on int8-range values is EXACT (|products| <= 127^2
        # and partial sums stay integers far below 2^53 for any dim < 5e11)
        # and runs BLAS instead of NumPy's slow int64 matmul loop
        idot = np.rint(_quant_np(tmat).astype(np.float64) @ qq.T).astype(np.int64)
        tn2 = _fold_dot(tmat, tmat)
        sel_b, sel_q = [], []
        for j in range(idot.shape[1]):
            keep = np.flatnonzero(admit[:, j])
            order = keep[np.lexsort((ids[keep], -idot[keep, j]))][:m]
            sel_b.append(order)
            sel_q.append(np.full(len(order), j, dtype=np.int64))
        bi = np.concatenate(sel_b) if sel_b else np.array([], dtype=np.int64)
        qi = np.concatenate(sel_q) if sel_q else np.array([], dtype=np.int64)
        if not len(bi):
            continue
        cos = _guarded_cos_np(_fold_dot(tmat[bi], qmat[qi]),
                              tn2[bi], qn2[qi])
        yield pd.DataFrame({
            "query_id": qids[qi],
            "target_id": ids[bi],
            "idot": idot[bi, qi],
            "cosine": cos,
        })


def _int8_rerank(embeddings: DataFrame, qids, qmat, k: int, m: int, *,
                 id_col: str, vec_col: str, pair_mask=None) -> DataFrame:
    """(query_id, target_id, cosine, rank): the two-stage int8 re-rank —
    one :func:`_int8_topm_batches` pass, then a window keeping each query's
    top ``m`` by (idot desc, id asc) and one ranking those by exact cosine
    (cosine desc, id asc) down to ``k``."""
    src = spread(embeddings.select(F.col(id_col).alias("__id"),
                                   F.col(vec_col).alias("__vec")))
    partial = src.mapInPandas(
        functools.partial(_int8_topm_batches, qids, qmat, m, pair_mask),
        "query_id long, target_id long, idot long, cosine double")
    w1 = Window.partitionBy("query_id").orderBy(F.col("idot").desc(),
                                                F.col("target_id").asc())
    w2 = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                                F.col("target_id").asc())
    return (partial.withColumn("mrank", F.row_number().over(w1))
            .filter(F.col("mrank") <= m)
            .withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", "target_id", "cosine", "rank"))


def quantized_topk(embeddings: DataFrame, queries: DataFrame, k: int, *,
                   m: int = QUANT_TOPM,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Two-stage int8 re-rank ANN — the storage/shuffle-bound scale pattern.

    Stage 1 scores int8-quantized vectors (per-vector scale 127/max|x|,
    floor-quantized — floor, not round: identical in every engine) with an
    INTEGER dot product and keeps the top ``m`` per query; stage 2 rescores
    only those ``m`` survivors with the exact double cosine and ranks top
    ``k``.  Integer arithmetic is bit-identical across engines, so the
    survivor SET (ties broken by id) and therefore the final ranking are
    oracle-exact (:func:`quantized_topk_sql`).

    r8: the two stages are FUSED into one mapInPandas pass.  The former
    Column path scored every (target, query) pair with an interpreted HOF
    integer dot and sorted ALL N rows per query in a window (116 s at
    sf1.0); the former Arrow twin fixed stage 1 but still rejoined the
    float vectors by id for the stage-2 HOF rescore.  Now each target
    batch quantizes (:func:`_quant_np`), computes the exact batch x query
    int64 dot matrix, keeps its per-batch top ``m`` per query (idot desc,
    id asc), and emits those rows with BOTH the integer score and the
    dim-ordered-fold exact cosine — so stage 1's global window ranks
    O(m * n_batches) rows, and stage 2 is a second sort over the same
    exchange with no vector rejoin (:func:`_int8_rerank`).  Survivor set,
    cosines and ranks are bit-identical to both former paths."""
    qids, qmat = _collect_queries(queries, id_col, vec_col)
    if qids is None:
        return _empty_ranked(embeddings)
    return (_int8_rerank(embeddings, qids, qmat, k, m,
                         id_col=id_col, vec_col=vec_col)
            .select("query_id", "target_id", "rank"))


def quantized_topk_sql(table: str, queries_filter: str, k: int,
                       m: int = QUANT_TOPM,
                       id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    """DuckDB twin of :func:`quantized_topk` (same quantizer, same integer
    stage-1 scores, same tie-breaks)."""
    def quant(vec):
        mx = f"list_max(list_transform({vec}, x -> abs(x)))"
        scale = f"(CASE WHEN {mx} > 0 THEN CAST(127 AS DOUBLE) / {mx} ELSE 0.0 END)"
        return f"list_transform({vec}, x -> CAST(FLOOR(x * {scale}) AS INT))"
    idot = ("CAST(list_sum(list_transform(range(len(qq)), "
            "i -> CAST(qq[i + 1] AS BIGINT) * tq[i + 1])) AS BIGINT)")
    return f"""
WITH t AS (SELECT {id_col} AS target_id,
                  list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS tvec FROM {table}),
q AS (SELECT {id_col} AS query_id,
             list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS qvec
      FROM {table} WHERE {queries_filter}),
tq AS (SELECT target_id, {quant('tvec')} AS tq FROM t),
qq AS (SELECT query_id, {quant('qvec')} AS qq FROM q),
s1 AS (
  SELECT query_id, target_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY {idot} DESC, target_id ASC) AS mrank
  FROM tq JOIN qq ON target_id <> query_id
),
surv AS (SELECT query_id, target_id FROM s1 WHERE mrank <= {m}),
scored AS (
  SELECT surv.query_id, surv.target_id,
         {_cos_sql('q.qvec', 't.tvec')} AS cosine
  FROM surv JOIN t ON t.target_id = surv.target_id
            JOIN q ON q.query_id = surv.query_id
),
ranked AS (
  SELECT query_id, target_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, target_id ASC) AS rank
  FROM scored
)
SELECT query_id, target_id, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= {k}
"""
