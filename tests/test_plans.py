"""Physical-plan invariants for the flagship queries.

Round 1 found a real 15x regression caused purely by plan shape (a nullable
derived join key made Catalyst re-evaluate the whole geocode+Morton tree per
row under a pushed isnotnull). These tests pin the plan properties that
matter at 100 TB — broadcast joins where the build side is small, pushed
filters and pruned columns at the scan, no pathological isnotnull(CASE...)
trees — so they fail loudly instead of silently costing a scale factor."""

import __spark_entry__ as E


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pip_join_probe_is_broadcast_and_key_nonnullable(spark, sf_dir):
    plan = _plan(E.q_pip_join(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    # the round-1 pathology: a pushed isnotnull over a big derived CASE tree
    assert "isnotnull(CASE WHEN" not in plan, plan
    # probe side must not cartesian
    assert "CartesianProduct" not in plan


def test_pip_join_build_side_is_local_scan(spark, sf_dir):
    """The driver-built build side is a JVM LocalTableScan: no pickled
    Python RDD (and so no Python-worker stage) stands behind the broadcast."""
    from polycheck_spark.data import synth
    from polycheck_spark.data.polygons import default_query_layer
    from polycheck_spark.operators import pip_join as PJ
    pages = synth.geocoded_pages(spark, 2000, partitions=4)
    for df in (E.q_pip_join(spark, sf_dir),
               PJ.pip_join(spark, pages, default_query_layer(), mode="broadcast")):
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan, plan
        assert "LocalTableScan" in plan, plan
        assert "Scan ExistingRDD" not in plan, plan


def test_driver_constants_only_via_local_frame():
    """``createDataFrame(`` appears in program code only inside
    ``session.local_frame`` — the one path for driver constants."""
    import ast
    import pathlib
    root = pathlib.Path(E.__file__).resolve().parent
    hits = []
    for path in [root / "__spark_entry__.py",
                 *sorted((root / "polycheck_spark").rglob("*.py"))]:
        src = path.read_text()
        funcs = [n for n in ast.walk(ast.parse(src))
                 if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for i, line in enumerate(src.splitlines(), 1):
            if "createDataFrame(" in line:
                owners = [f.name for f in funcs if f.lineno <= i <= f.end_lineno]
                hits.append((path.relative_to(root).as_posix(), owners))
    assert hits == [("polycheck_spark/session.py", ["local_frame"])], hits


def _scan_columns(plan: str) -> str:
    # "FileScan parquet [colA#1,colB#2,...]" — ReadSchema gets truncated in
    # toString(), the bracketed output list does not
    return plan.split("FileScan parquet ", 1)[1].split("]", 1)[0]


def test_agg_lineitem_pushes_filter_and_prunes_columns(spark, sf_dir):
    plan = _plan(E.q_agg_lineitem(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan
    # only the 5 needed columns reach the scan
    cols = _scan_columns(plan)
    for col in ["l_returnflag", "l_linestatus", "l_quantity",
                "l_extendedprice", "l_shipdate"]:
        assert col in cols, cols
    for col in ["l_orderkey", "l_partkey", "l_discount", "l_tax"]:
        assert col not in cols, cols
    # map-side partial aggregation before the exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_tile_events_hourly_prunes_unused_columns(spark, sf_dir):
    plan = _plan(E.q_tile_events_hourly(spark, sf_dir))
    cols = _scan_columns(plan)
    for col in ["ts", "user_id", "event_type", "value"]:
        assert col in cols, cols
    assert "props" not in cols, cols          # JSON column not read
    assert "event_id" not in cols, cols       # selected mid-pipeline but unused


def test_raster_lookup_broadcasts_raster(spark, sf_dir):
    plan = _plan(E.q_raster_lookup(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_near_dup_bucket_join_not_cartesian(spark, sf_dir):
    plan = _plan(E.q_near_dup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_near_dup_buckets_once_vectors_never_rejoin(spark, sf_dir):
    """r8 shape: ONE bucketing pass (lazy localCheckpoint; both cogroup
    sides scan the checkpointed (vid, bucket, v) RDD), vectors ride the
    bucket exchange n_planes+2 times total, and the per-bucket rescore is
    a single cogrouped applyInPandas — no candidate-pair id join, no
    vector rejoin by id (the former shape shipped each vector once per
    candidate pair), no join operator at all."""
    from polycheck_spark.operators import similarity as S
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(S.near_dup_pairs(emb, (3, 5)))
    assert plan.count("FlatMapCoGroupsInPandas") == 1, plan
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert plan.count("FileScan parquet") == 0, plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, plan
    # exactly the two cogroup-side exchanges, keyed on the bucket keys
    assert plan.count("Exchange hashpartitioning(bucket") == 1, plan
    assert plan.count("Exchange hashpartitioning(pbucket") == 1, plan


def test_strip_boilerplate_hot_join_is_broadcast(spark, sf_dir):
    """The hot-line flag join must broadcast the hot table (cap-bounded
    tiny by construction) — a shuffle there moves the full line relation,
    which IS the corpus at 100 TB.  The broadcast is pinned with
    F.broadcast so an AQE stats misestimate can't demote it."""
    from polycheck_spark.operators import text as TX
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(TX.strip_boilerplate(docs, 3))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_vocab_topk_uses_take_ordered(spark, sf_dir):
    """The vocabulary top-k must plan as TakeOrderedAndProject (per-
    partition top-k + driver merge) — a global Sort over the vocabulary
    would single-reducer a 10^8-token table at web scale."""
    from polycheck_spark.operators import text as TX
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(TX.vocab_topk(docs, 50))
    assert "TakeOrderedAndProject" in plan, plan


def test_decontaminate_eval_side_is_broadcast(spark, sf_dir):
    """The eval shingle set must broadcast: a shuffle keyed on shingles
    moves the corpus-dominant relation at 10^12 docs."""
    plan = _plan(E.q_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_tile_rank_broadcasts_host_ranks(spark, sf_dir):
    """The corpus side of the geo x web-graph composition must never
    shuffle: the host-rank table is host-sized and broadcast-pinned."""
    plan = _plan(E.q_tile_rank(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_text_path_stays_jvm_side(spark, sf_dir):
    """Text ops must stay JVM-side: no Python evaluation node anywhere.

    (WholeStageCodegen markers only appear in AQE's FINAL plan after
    execution, so absence-of-Python is the reliable pre-execution check.)"""
    for q in ("q_token_counts", "q_quality_scores", "q_lang_id",
              "q_fingerprints", "q_simhash", "q_html_extract",
              "q_decontaminate", "q_pii_redact"):
        plan = _plan(getattr(E, q)(spark, sf_dir))
        assert "ArrowEvalPython" not in plan, q
        assert "BatchEvalPython" not in plan, q
        assert "PythonUDF" not in plan, q


def test_od_flows_single_window_single_corpus_shuffle(spark, sf_dir):
    """od_flows: both lag columns must share ONE Window node over one
    corpus shuffle on the entity key; the count-distinct pair rollup runs
    on the moves relation (no Expand, no second corpus-wide exchange on
    the entity key)."""
    import re
    plan = _plan(E.q_od_flows(spark, sf_dir))
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan
    assert "Expand" not in plan, plan
    # exactly one exchange keyed by the entity (the window shuffle);
    # the remaining exchanges key on the OD pair (moves-sized)
    user_keyed = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(user_keyed) == 1, plan


def test_hotspot_regions_result_plan_never_rereads_corpus(spark, sf_dir):
    """hotspot_regions: the points source is aggregated ONCE behind a
    checkpoint — the returned region plan must contain zero file scans
    (it reads the hot-cell RDDs and attaches labels via broadcast), so
    consuming the result can never re-run the corpus aggregation."""
    df = E.q_hotspot_regions(spark, sf_dir)
    plan = _plan(df)
    assert "FileScan" not in plan and "Scan parquet" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
