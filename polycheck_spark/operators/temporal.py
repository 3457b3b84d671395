"""Temporal joins: as-of (most-recent-snapshot) matching.

The classic event-to-dimension temporal pattern: every left event picks the
right row with the GREATEST right timestamp <= the event's timestamp within
the same key (pandas ``merge_asof(direction='backward')`` / DuckDB ``ASOF
JOIN`` semantics; ties at equal timestamps match).

Spark-first shape — NO join explosion and no per-key driver loops: the two
relations are unioned with a side tag, one window per key (ordered by
``(ts, tag)`` so a right row at the event's exact timestamp sorts first)
carries the last non-null right payload forward, and the left rows are
filtered back out.  Cost: ONE hash shuffle on the key plus a per-key sort —
the same price as the window aggregations elsewhere in this engine, versus
the range-join explosion (every left row x every earlier right row) a naive
``l.ts >= r.ts`` join pays.  At 10^12 events the key is the unit of
parallelism: a single giant key serializes its sort.

Contract: right rows must be unique per ``(key, right_ts)`` — with
duplicates, "the most recent row" is ill-defined and engines (and this
implementation's window order) may tie-break differently.  Dedupe first
(e.g. keep the min id), as the driver query does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(left: DataFrame, right: DataFrame, *, on: list[str],
              value_cols: list[str]) -> DataFrame:
    """Backward as-of join: left columns plus, per left row, the
    ``value_cols`` of the most recent right row (``right_ts <= left_ts``,
    same ``on`` key) and its timestamp as ``asof_ts``.  No match leaves
    them NULL.

    Output: every left column, then ``asof_ts``, then ``value_cols``.
    """
    lcols = left.columns
    clash = set(value_cols + ["asof_ts"]) & set(lcols)
    if clash:
        raise ValueError(f"left columns collide with output names: {clash}")
    l_side = left.select(
        *[F.col(c) for c in lcols],
        F.col("ts").alias("__ts"), F.lit(1).alias("__tag"),
        F.lit(None).cast(right.schema["ts"].dataType).alias("__rts"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__v_{c}")
          for c in value_cols])
    r_side = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          if c not in on else F.col(c) for c in lcols],
        F.col("ts").alias("__ts"), F.lit(0).alias("__tag"),
        F.col("ts").alias("__rts"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols])
    u = l_side.unionByName(r_side)
    w = (Window.partitionBy(*on).orderBy("__ts", "__tag")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = u.select(
        *lcols, "__ts", "__tag",
        F.last("__rts", ignorenulls=True).over(w).alias("asof_ts"),
        *[F.last(f"__v_{c}", ignorenulls=True).over(w).alias(c)
          for c in value_cols])
    return carried.filter(F.col("__tag") == 1).drop("__ts", "__tag")


# --- interval overlap join ----------------------------------------------------

def interval_join(left: DataFrame, right: DataFrame, *, bucket_ms: int,
                  left_id: str = "l_id", right_id: str = "r_id") -> DataFrame:
    """All (left, right) interval pairs that OVERLAP (closed endpoints:
    touching intervals count, ``overlap_ms = 0``) — ``(l_id, r_id,
    overlap_ms)`` with ``overlap_ms = min(ends) - max(starts)``.

    The naive theta join (``l.start <= r.end AND r.start <= l.end``) is a
    cross product to Spark — no equi-key, every pair compared.  The scale
    shape here is time BUCKETING: each interval explodes to the
    ``bucket_ms``-wide chunks it covers, candidates meet through a plain
    equi-join on the chunk id, and the exact predicate filters inside the
    join.  A pair overlapping several shared chunks would duplicate, so
    each pair is emitted ONLY in the chunk containing the overlap's start
    (``floor(max(starts) / bucket_ms)``) — a per-row comparison instead of
    a corpus-wide ``distinct`` shuffle.

    Contract at 10^12 events: size ``bucket_ms`` to the typical interval
    length — fan-out per row is ``span/bucket_ms + 1`` chunks (so pick the
    bucket to keep that a small constant), and rows landing in one chunk
    are that chunk's join partition (a rush-hour hot chunk is a skew key;
    AQE's skew-join split handles it because the join is a plain
    equi-join).  Timestamps are integer millis end-to-end — no float
    boundary drift.
    """
    if bucket_ms <= 0:
        raise ValueError("bucket_ms must be positive")
    l = left.select(F.col(left_id).alias("l_id"),
                    F.col("start_ms").alias("ls"),
                    F.col("end_ms").alias("le"))
    r = right.select(F.col(right_id).alias("r_id"),
                     F.col("start_ms").alias("rs"),
                     F.col("end_ms").alias("re"))
    lb = l.withColumn("__b", F.explode(F.sequence(
        F.floor(F.col("ls") / bucket_ms), F.floor(F.col("le") / bucket_ms))))
    rb = r.withColumn("__b", F.explode(F.sequence(
        F.floor(F.col("rs") / bucket_ms), F.floor(F.col("re") / bucket_ms))))
    joined = (lb.join(rb, "__b")
              .filter((F.col("ls") <= F.col("re"))
                      & (F.col("rs") <= F.col("le")))
              .filter(F.col("__b")
                      == F.floor(F.greatest("ls", "rs") / bucket_ms)))
    return joined.select(
        "l_id", "r_id",
        (F.least("le", "re") - F.greatest("ls", "rs")).alias("overlap_ms"))


def interval_join_sql(left_cte: str, right_cte: str, *,
                      left_id: str = "l_id", right_id: str = "r_id") -> str:
    """DuckDB twin of :func:`interval_join`: the plain theta join (oracle
    scale), same closed-endpoint overlap rule and integer overlap width.
    Each CTE must yield ``(<id>, start_ms, end_ms)``."""
    return f"""
WITH ij_l AS ({left_cte}),
ij_r AS ({right_cte})
SELECT l.{left_id} AS l_id, r.{right_id} AS r_id,
       least(l.end_ms, r.end_ms) - greatest(l.start_ms, r.start_ms)
         AS overlap_ms
FROM ij_l l JOIN ij_r r
  ON l.start_ms <= r.end_ms AND r.start_ms <= l.end_ms
"""


# --- dwell-segment (stay-point) detection -------------------------------------

def dwell_segments(events: DataFrame) -> DataFrame:
    """Trajectory stay-point detection: collapse each entity's consecutive
    run of events in the SAME grid cell into one dwell segment.

    Per user, events are ordered by ``(ts, event_id)``; a new segment opens
    whenever the cell differs from the previous event's cell (classic
    gaps-and-islands).  Output: one row per segment —
    (key, seg_no, ix, iy, n_events, enter_ms, leave_ms, dwell_ms) where
    ``dwell_ms = leave_ms - enter_ms`` (a single-event segment dwells 0).

    Shape: ONE hash shuffle on the key plus the per-key sort (lag + running
    sum share the same window frame, so Catalyst evaluates both in one
    Window node); the segment aggregation groups by (key, seg_no) — a
    second, strictly smaller shuffle.  The key is the unit of parallelism;
    a pathological single-entity stream serializes its sort, the same
    documented contract as :func:`asof_join` (salting does not apply here:
    run boundaries need the full ordered sequence of a key on one node).
    Timestamps are compared as epoch millis (cast through TIMESTAMP so
    TIMESTAMP_NTZ inputs work; session tz is UTC in this engine).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    moved = F.when(
        F.lag("ix").over(w).isNull()
        | (F.lag("ix").over(w) != F.col("ix"))
        | (F.lag("iy").over(w) != F.col("iy")), 1).otherwise(0)
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    seg = (events
           .withColumn("__seg", F.sum(moved).over(w).cast("long"))
           .withColumn("__ms", ms))
    return (seg.groupBy(F.col("user_id"), F.col("__seg").alias("seg_no"))
            .agg(F.min("ix").alias("ix"), F.min("iy").alias("iy"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.min("__ms").alias("enter_ms"),
                 F.max("__ms").alias("leave_ms"))
            .withColumn("dwell_ms",
                        (F.col("leave_ms") - F.col("enter_ms")).cast("long")))


def dwell_segments_sql(events_cte: str) -> str:
    """DuckDB twin of :func:`dwell_segments` (same lag + running-sum
    gaps-and-islands; epoch_ms on the raw timestamp matches Spark's
    unix_millis under the engine's UTC session contract)."""
    return f"""
WITH seq AS (
  SELECT *, epoch_ms(ts) AS __ms,
         CASE WHEN lag(ix) OVER w IS NULL
                   OR lag(ix) OVER w <> ix
                   OR lag(iy) OVER w <> iy THEN 1 ELSE 0 END AS __new
  FROM ({events_cte})
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
segd AS (
  SELECT *, CAST(SUM(__new) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seg_no
  FROM seq)
SELECT user_id, seg_no,
       MIN(ix) AS ix, MIN(iy) AS iy,
       COUNT(*) AS n_events,
       MIN(__ms) AS enter_ms, MAX(__ms) AS leave_ms,
       CAST(MAX(__ms) - MIN(__ms) AS BIGINT) AS dwell_ms
FROM segd GROUP BY 1, 2
"""


def od_flows(events: DataFrame) -> DataFrame:
    """Origin-destination flow matrix: per entity, each consecutive pair of
    events in DIFFERENT grid cells is one movement; flows aggregate
    movements by (src cell, dst cell) — the canonical mobility-analytics
    rollup (tile-to-tile transition counts for routing, demand and
    crawl-locality models).

    Same-cell consecutive events are stays, not moves, and are excluded
    (they are :func:`dwell_segments`' subject).  Output: one row per
    observed directed cell pair — (src_ix, src_iy, dst_ix, dst_iy,
    n_moves, n_users) where ``n_users`` counts distinct entities that made
    the move.

    Events with a NULL cell coordinate (an unlocatable fix) are excluded
    BEFORE the lag, so they are gaps, not positions: A -> NULL -> B emits
    the single move A -> B.  Without the exclusion, three-valued logic
    would silently swallow both transitions around the NULL row.  (This
    also keeps the ``moves == dwell segments - users`` cross-check exact
    on NULL-free trajectories; dwell_segments treats cells as opaque
    values and has no corresponding exclusion.)

    Shape: the lag runs in ONE window (single hash shuffle on the key +
    per-key sort, the same node dwell_segments uses), then one
    cell-pair-keyed groupBy whose key space is observed OD pairs — bounded
    by min(|moves|, occupied-cells^2), never corpus-sized state.  The
    distinct-user count rides the same aggregation (partial
    count-distinct), no second pass over the events.
    """
    events = events.filter(F.col("ix").isNotNull() & F.col("iy").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    px, py = F.lag("ix").over(w), F.lag("iy").over(w)
    moves = (events
             .select(F.col("user_id").alias("__k"),
                     px.alias("src_ix"), py.alias("src_iy"),
                     F.col("ix").alias("dst_ix"), F.col("iy").alias("dst_iy"))
             .filter(F.col("src_ix").isNotNull()
                     & ((F.col("src_ix") != F.col("dst_ix"))
                        | (F.col("src_iy") != F.col("dst_iy")))))
    return (moves.groupBy("src_ix", "src_iy", "dst_ix", "dst_iy")
            .agg(F.count(F.lit(1)).alias("n_moves"),
                 F.countDistinct("__k").alias("n_users")))


def od_flows_sql(events_cte: str) -> str:
    """DuckDB twin of :func:`od_flows` (same lag window + pair rollup)."""
    return f"""
WITH seq AS (
  SELECT user_id AS __k,
         lag(ix) OVER w AS src_ix, lag(iy) OVER w AS src_iy,
         ix AS dst_ix, iy AS dst_iy
  FROM (SELECT * FROM ({events_cte})
        WHERE ix IS NOT NULL AND iy IS NOT NULL)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT src_ix, src_iy, dst_ix, dst_iy,
       COUNT(*) AS n_moves, COUNT(DISTINCT __k) AS n_users
FROM seq
WHERE src_ix IS NOT NULL AND (src_ix <> dst_ix OR src_iy <> dst_iy)
GROUP BY 1, 2, 3, 4
"""
