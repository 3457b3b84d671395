"""as-of join semantics: backward match, exact-ts tie, NULL miss.

Small hand-built frames where the expected assignment is obvious by eye;
the driver query (`events_asof`) differentials the same operator against
DuckDB's native ASOF LEFT JOIN at 10k rows.
"""

import datetime as dt

import pytest

from polycheck_spark.operators.temporal import asof_join


def _ts(s):
    return dt.datetime(2024, 1, 1, 0, 0, s)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [(1, "a", _ts(5)),   # after snaps at 2 and 4 -> snap 40
         (2, "a", _ts(4)),   # exactly at snap ts 4 -> snap 40 (tie matches)
         (3, "a", _ts(1)),   # before every snap -> NULL
         (4, "b", _ts(9)),   # key with one early snap -> snap 70
         (5, "c", _ts(3))],  # key with no snaps -> NULL
        "event_id long, k string, ts timestamp")
    right = spark.createDataFrame(
        [("a", _ts(2), 20), ("a", _ts(4), 40), ("b", _ts(1), 70)],
        "k string, ts timestamp, snap long")
    return left, right


def _collect(df):
    return {r.event_id: (r.asof_ts, r.snap)
            for r in df.select("event_id", "asof_ts", "snap").collect()}


def test_backward_match_tie_and_miss(frames):
    left, right = frames
    out = _collect(asof_join(left, right, on=["k"], value_cols=["snap"]))
    assert out[1] == (_ts(4), 40)
    assert out[2] == (_ts(4), 40)      # equal timestamps match
    assert out[3] == (None, None)      # no earlier snapshot
    assert out[4] == (_ts(1), 70)
    assert out[5] == (None, None)      # key absent from right
    # left row count and columns preserved
    assert len(out) == 5


def test_output_name_collision_raises(frames):
    left, right = frames
    with pytest.raises(ValueError, match="collide"):
        asof_join(left.withColumn("snap", left.event_id), right,
                  on=["k"], value_cols=["snap"])


def test_matches_duckdb_asof_on_random_data(spark, tmp_path):
    """Differential vs DuckDB's merge-based ASOF LEFT JOIN on 2k random
    events / 300 snapshots across 40 keys (independent implementations)."""
    duckdb = pytest.importorskip("duckdb")
    ev = spark.range(2000).selectExpr(
        "id AS event_id", "CAST(id % 40 AS long) AS k",
        "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,"
        "CAST((id * 2654435761) % 86400 AS int)) AS ts")
    sn = spark.range(300).selectExpr(
        "CAST(id % 40 AS long) AS k",
        "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,"
        "CAST((id * 40503) % 86400 AS int)) AS ts",
        "id AS snap").groupBy("k", "ts").agg({"snap": "min"}) \
        .withColumnRenamed("min(snap)", "snap")
    ep, sp = str(tmp_path / "ev.parquet"), str(tmp_path / "sn.parquet")
    ev.write.parquet(ep)
    sn.write.parquet(sp)
    got = sorted(
        tuple(r) for r in
        asof_join(ev, sn, on=["k"], value_cols=["snap"])
        .select("event_id", "asof_ts", "snap").collect())
    con = duckdb.connect()
    want = sorted(map(tuple, con.execute(
        f"SELECT l.event_id, r.ts, r.snap "
        f"FROM read_parquet('{ep}/*.parquet') l "
        f"ASOF LEFT JOIN read_parquet('{sp}/*.parquet') r "
        f"ON l.k = r.k AND l.ts >= r.ts").fetchall()))
    con.close()
    assert got == want


def test_interval_join_equals_bruteforce(spark):
    """Bucketed interval join == brute-force theta join: multi-bucket
    spans, touching endpoints (overlap 0), and no duplicate pairs."""
    from polycheck_spark.operators.temporal import interval_join
    left = spark.range(200).selectExpr(
        "id AS l_id",
        "(id * 2654435761) % 100000 AS start_ms",
        "(id * 2654435761) % 100000 + (id % 70 + 1) * 137 AS end_ms")
    right = spark.range(200).selectExpr(
        "id AS r_id",
        "(id * 40503) % 100000 AS start_ms",
        "(id * 40503) % 100000 + (id % 90 + 1) * 91 AS end_ms")
    got = sorted(tuple(r) for r in interval_join(
        left, right, bucket_ms=500,
        left_id="l_id", right_id="r_id").collect())
    exp = sorted(
        (l.l_id, r.r_id, min(l.end_ms, r.end_ms) - max(l.start_ms, r.start_ms))
        for l in left.collect() for r in right.collect()
        if l.start_ms <= r.end_ms and r.start_ms <= l.end_ms)
    assert got == exp and len(got) > 0
    assert len(got) == len(set((a, b) for a, b, _ in got))  # emit-once


def test_interval_join_touching_and_validation(spark):
    from polycheck_spark.operators.temporal import interval_join
    l = spark.createDataFrame([(1, 0, 100)], "l_id long, start_ms long, end_ms long")
    r = spark.createDataFrame([(2, 100, 200), (3, 101, 200)],
                              "r_id long, start_ms long, end_ms long")
    out = {(x.l_id, x.r_id): x.overlap_ms for x in
           interval_join(l, r, bucket_ms=64).collect()}
    assert out == {(1, 2): 0}          # closed endpoints touch; (1,3) misses
    import pytest as _pt
    with _pt.raises(ValueError, match="bucket_ms"):
        interval_join(l, r, bucket_ms=0)


def test_dwell_segments_runs_and_boundaries(spark):
    from datetime import datetime
    from polycheck_spark.operators.temporal import dwell_segments
    T0 = datetime(2024, 1, 1)
    def ts(m):
        return datetime(2024, 1, 1, 0, m)
    rows = [
        # user 7: A A B B B A  -> 3 segments (revisiting A opens a NEW one)
        (1, 7, ts(0), 2, 2), (2, 7, ts(1), 2, 2),
        (3, 7, ts(2), 5, 1), (4, 7, ts(3), 5, 1), (5, 7, ts(4), 5, 1),
        (6, 7, ts(9), 2, 2),
        # user 8: single event -> one zero-dwell segment
        (7, 8, ts(0), 0, 0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, ix long, iy long")
    got = {(r["user_id"], r["seg_no"]): r
           for r in dwell_segments(ev).collect()}
    assert len(got) == 4
    s1, s2, s3 = got[(7, 1)], got[(7, 2)], got[(7, 3)]
    assert (s1["ix"], s1["iy"], s1["n_events"]) == (2, 2, 2)
    assert (s2["ix"], s2["iy"], s2["n_events"]) == (5, 1, 3)
    assert (s3["ix"], s3["iy"], s3["n_events"]) == (2, 2, 1)
    assert s1["dwell_ms"] == 60_000 and s2["dwell_ms"] == 120_000
    assert s3["dwell_ms"] == 0
    assert got[(8, 1)]["n_events"] == 1 and got[(8, 1)]["dwell_ms"] == 0
    # segment intervals are disjoint and ordered within the user
    assert s1["leave_ms"] < s2["enter_ms"] < s2["leave_ms"] < s3["enter_ms"]


def test_od_flows_golden(spark):
    from polycheck_spark.operators.temporal import od_flows

    def ts(m):
        import datetime
        return datetime.datetime(2024, 1, 1, 0, m)

    rows = [
        # user 7: A(2,2) -> A -> B(5,1) -> A : moves A->B, B->A (stay excluded)
        (1, 7, ts(0), 2, 2), (2, 7, ts(1), 2, 2),
        (3, 7, ts(2), 5, 1), (4, 7, ts(3), 2, 2),
        # user 8: A -> B (same pair as user 7's first move)
        (5, 8, ts(0), 2, 2), (6, 8, ts(1), 5, 1),
        # user 9: single event -> no move
        (7, 9, ts(0), 9, 9),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, ix long, iy long")
    got = {(r["src_ix"], r["src_iy"], r["dst_ix"], r["dst_iy"]):
           (r["n_moves"], r["n_users"]) for r in od_flows(ev).collect()}
    assert got == {(2, 2, 5, 1): (2, 2),   # A->B by users 7 and 8
                   (5, 1, 2, 2): (1, 1)}   # B->A by user 7 only


def test_od_flows_tie_order_by_event_id(spark):
    """Equal timestamps order by event_id, so the move sequence is
    deterministic: A -(e1)-> B -(e2)-> C at one instant gives A->B, B->C."""
    from polycheck_spark.operators.temporal import od_flows
    import datetime
    t = datetime.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, 5, t, 0, 0), (2, 5, t, 1, 0), (3, 5, t, 2, 0)],
        "event_id long, user_id long, ts timestamp, ix long, iy long")
    got = {(r["src_ix"], r["dst_ix"]) for r in od_flows(ev).collect()}
    assert got == {(0, 1), (1, 2)}


def test_od_flows_null_cell_is_a_gap_not_a_swallower(spark):
    """A NULL-cell event (unlocatable fix) must be a GAP: A -> NULL -> B
    emits the single move A->B.  Under naive three-valued logic the NULL
    row would silently swallow BOTH surrounding transitions."""
    from polycheck_spark.operators.temporal import od_flows
    import datetime
    t = datetime.datetime(2024, 1, 1)

    def ts(m):
        return datetime.datetime(2024, 1, 1, 0, m)

    ev = spark.createDataFrame(
        [(1, 5, ts(0), 2, 2), (2, 5, ts(1), None, None), (3, 5, ts(2), 5, 1)],
        "event_id long, user_id long, ts timestamp, ix long, iy long")
    got = [(r["src_ix"], r["src_iy"], r["dst_ix"], r["dst_iy"], r["n_moves"])
           for r in od_flows(ev).collect()]
    assert got == [(2, 2, 5, 1, 1)]


def test_od_flows_random_differential(spark):
    """Seeded random trajectories (duplicate timestamps, NULL-cell gaps,
    stays, revisits) against an independent pure-Python walk — exact
    equality of the full flow matrix including distinct-mover counts."""
    import numpy as np
    from collections import defaultdict
    from datetime import datetime, timedelta
    from polycheck_spark.operators.temporal import od_flows

    rng = np.random.RandomState(1729)
    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user in range(40):
        for _ in range(int(rng.randint(1, 26))):
            # coarse minutes force duplicate timestamps within a user, so
            # the event_id tiebreak is exercised, not just allowed
            ts = base + timedelta(minutes=int(rng.randint(0, 12)))
            if rng.rand() < 0.07:
                ix = iy = None                   # unlocatable fix: a gap
            else:
                ix, iy = int(rng.randint(0, 3)), int(rng.randint(0, 3))
            rows.append((eid, user, ts, ix, iy))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, ix long, iy long")
    got = {(r["src_ix"], r["src_iy"], r["dst_ix"], r["dst_iy"]):
           (r["n_moves"], r["n_users"]) for r in od_flows(ev).collect()}

    moves = defaultdict(int)
    movers = defaultdict(set)
    by_user = defaultdict(list)
    for e, u, ts, ix, iy in rows:
        if ix is not None:
            by_user[u].append((ts, e, ix, iy))
    for u, evs in by_user.items():
        evs.sort()
        for (_, _, ax, ay), (_, _, bx, by) in zip(evs, evs[1:]):
            if (ax, ay) != (bx, by):
                moves[(ax, ay, bx, by)] += 1
                movers[(ax, ay, bx, by)].add(u)
    exp = {k: (n, len(movers[k])) for k, n in moves.items()}
    assert got == exp and len(got) > 10
