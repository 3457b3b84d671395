"""Sequence packing: arranging documents into fixed-token-budget training
bins — the last stage before a pre-training dataloader.

:func:`pack_chunks` — concatenate-and-chunk (the GPT-style pretraining
layout): documents are laid end-to-end in a deterministic order and the
stream is cut every ``budget`` tokens, so documents may straddle bin
boundaries.  This is CLOSED-FORM: a bin is an integer function of the
exclusive prefix sum of token counts, which is one window aggregate —
fully relational, whole-stage-codegen, and exactly mirrored in SQL
(the driver-oracle mode).

Scale contract: packing order is (group, doc_id) and groups are the unit
of parallelism.  The window is translation-invariant, so no group needs
special care, but at 10^12 documents sharding the group key —
``group_cols=("lang", "shard")`` with ``shard = doc_id div S`` — bounds
the window's sort while keeping determinism (shards are id-derived, not
partition-derived).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def pack_chunks(docs: DataFrame, budget: int, *,
                group_cols: tuple[str, ...] = ("lang",),
                id_col: str = "doc_id") -> DataFrame:
    """Concat-and-chunk bin assignment.

    Output per document: ``start_off`` (exclusive prefix sum — the token
    offset where this doc begins in its group's stream), ``bin_id`` =
    ``start_off div budget``, ``end_bin`` = the bin holding the doc's last
    token, and ``straddles`` (the doc crosses at least one cut).  Empty
    documents (0 tokens) sit at their offset in the bin that begins there
    and never straddle.
    """
    w = (Window.partitionBy(*group_cols).orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    n = F.col("n_tokens").cast("long")
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    out = docs.select(*group_cols, id_col, n.cast("int").alias("n_tokens"),
                      start.alias("start_off"))
    bin_id = F.expr(f"start_off div {budget}")
    end_bin = F.expr(
        f"(start_off + greatest(n_tokens - 1, 0)) div {budget}")
    return out.select(
        *group_cols, id_col, "n_tokens", "start_off",
        bin_id.cast("long").alias("bin_id"),
        end_bin.cast("long").alias("end_bin"),
        (end_bin > bin_id).alias("straddles"))


def pack_chunks_sql(table: str, budget: int) -> str:
    """DuckDB twin of :func:`pack_chunks` — same window, same integer
    division."""
    return f"""
SELECT lang, doc_id, CAST(n AS INT) AS n_tokens, start_off,
       start_off // {budget} AS bin_id,
       (start_off + greatest(n - 1, 0)) // {budget} AS end_bin,
       ((start_off + greatest(n - 1, 0)) // {budget}) > (start_off // {budget})
         AS straddles
FROM (
  SELECT lang, doc_id, n,
         CAST(coalesce(SUM(n) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_off
  FROM (SELECT lang, doc_id, CAST(n_tokens AS BIGINT) AS n FROM {table}))
"""
