"""Driver-contract sanity: entry() shape, queries()/oracle_sql() alignment,
golden star-grid tile assignment through the full Spark join path, and the
caller and option censuses that keep test-only code out of the program."""

import ast
import collections
import glob
import os

import numpy as np
from pyspark.sql import functions as F

import __spark_entry__ as E


def test_queries_oracle_keys_align():
    qs = E.queries()
    oracles = E.oracle_sql()
    assert len(qs) >= 20
    unknown = set(oracles) - set(qs)
    assert not unknown, f"oracles without queries: {unknown}"
    rows_only = set(qs) - set(oracles)
    # round 2: every query is oracle-checked (walk oracles + md5 LSH planes)
    assert not rows_only, rows_only


def test_fast_rows_alias_their_base_rows():
    """Each X_fast row runs X's builder against X's oracle string; the
    registry keeps all 107 names, so a row cannot fork or vanish unseen."""
    qs = E.queries()
    oracles = E.oracle_sql()
    assert len(qs) == 107
    fast = [n for n in qs if n.endswith("_fast")]
    assert sorted(fast) == ["ann_cosine_fast", "ann_ivf_fast", "ann_lsh_fast",
                            "ann_quant_fast", "near_dup_fast"]
    for name in fast:
        base = name[:-len("_fast")]
        assert qs[name] is qs[base], name
        assert oracles[name] == oracles[base], name


def test_entry_runs(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"point_id", "polygon_id", "cell_id", "lon", "lat"}


def test_approx_count_distinct_tiles(spark, sf_dir):
    """approx_count_distinct (HLL sketch) on the tile column: within 5% of
    exact — the cheap cardinality pass hot-cell detection uses at scale."""
    from polycheck_spark.data import synth
    from polycheck_spark.operators import pip_join as PJ
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lon, lat = synth.geocode_arith_cols(F.col("doc_id"))
    tiled = PJ.assign_tiles(docs.select("doc_id", lon.alias("lon"), lat.alias("lat")),
                            res=8)
    exact = tiled.select(F.countDistinct("cell_id")).collect()[0][0]
    approx = tiled.select(F.approx_count_distinct("cell_id", rsd=0.02)).collect()[0][0]
    assert abs(approx - exact) / exact < 0.05


def test_star_grid_exact_through_spark_join(spark):
    """The reference's own golden workload (200x200 grid vs star8,
    tests/test_contains.py:70-73) through the DISTRIBUTED join path:
    the set of points assigned to the star must equal the oracle's."""
    from polycheck_spark.data.polygons import GOLDEN_POLYGONS
    from polycheck_spark.operators import pip_join as PJ
    from polycheck_spark.geo.kernel import contains

    dots = np.linspace(-8, 8, 200)
    xs, ys = np.meshgrid(dots, dots, indexing="xy")
    pts = np.stack([xs.ravel(), ys.ravel()], axis=1)
    expected_mask = contains(GOLDEN_POLYGONS["star8"], pts).astype(bool)
    expected_ids = set(np.flatnonzero(expected_mask).tolist())

    layer = [{"polygon_id": 1, "name": "star8",
              "vertices": GOLDEN_POLYGONS["star8"]}]
    df = spark.createDataFrame(
        [(int(i), float(p[0]), float(p[1])) for i, p in enumerate(pts)],
        "point_id long, lon double, lat double")
    joined = PJ.pip_join(spark, df, layer, key_col="point_id")
    got_ids = {r["point_id"] for r in joined.select("point_id").collect()}
    assert got_ids == expected_ids
    assert len(got_ids) == 776  # the star's known containment count


_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PROGRAM_GLOBS = ("polycheck_spark/**/*.py", "__spark_entry__.py", "bench*.py",
                  "tools/**/*.py", "perfbench/**/*.py")

# Program defs that no program file calls, each kept for a stated reason.
_CENSUS_ALLOW = {
    "visibility.visibility_local":
        "reference twin: NumPy raster visibility the Spark operator is tested against",
    "visibility.visibility_from_region_local":
        "reference twin of visibility_from_region",
    "visibility.visibility_from_real_region_local":
        "reference twin of visibility_from_real_region",
    "visibility.sensor_visibility_local":
        "reference twin of sensor_visibility",
    "web.url_path_col":
        "reference twin: Column form of the raw-path parse robots rules match on",
    "cells.cell_id":
        "reference twin: NumPy cell index the Column and SQL encoders are tested against",
    "cells.children":
        "reference twin: inverse of parent, pins the quadtree in property tests",
    "cells.parent_sql":
        "reference twin: DuckDB twin of parent",
    "kernel.faux_scan":
        "reference twin: the reference API's whole-scan entry, pinned by golden ranges",
    "tables.CheckpointedWriter.lineage_df":
        "snapshot API: per-bucket lineage as a DataFrame (the Iceberg surface)",
    "tables.CheckpointedWriter.read_snapshot":
        "snapshot API: time travel (the Iceberg surface)",
    "tables.CheckpointedWriter.rollback_to":
        "snapshot API: rollback (the Iceberg surface)",
    "tables.CheckpointedWriter.read_snapshot_evolved":
        "snapshot API: add-column schema evolution (the Iceberg surface)",
    "tables.CheckpointedWriter.expire_snapshots":
        "snapshot API: snapshot expiry (the Iceberg surface)",
}


def _program_files():
    return sorted({p for g in _PROGRAM_GLOBS
                   for p in glob.glob(os.path.join(_ROOT, g), recursive=True)})


def test_every_program_def_has_a_program_caller():
    """Caller census: every top-level function, class and method under
    polycheck_spark/ is referenced by name (a Name, an Attribute or an
    import) from some program file — the package, the driver entry, the
    bench scripts, tools/ or perfbench/.  Code that only tests reach is
    deleted, not kept; the few deliberate exceptions are listed with a
    reason in _CENSUS_ALLOW, and an entry that gains a caller leaves it."""
    refs = set()
    for path in _program_files():
        for node in ast.walk(ast.parse(open(path).read(), path)):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.alias):
                refs.update(node.name.split("."))
    defs = {}
    for path in glob.glob(os.path.join(_ROOT, "polycheck_spark/**/*.py"),
                          recursive=True):
        mod = os.path.splitext(os.path.basename(path))[0]
        for node in ast.parse(open(path).read(), path).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            defs[f"{mod}.{node.name}"] = node.name
            if isinstance(node, ast.ClassDef):
                for m in node.body:
                    if (isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
                            and not (m.name.startswith("__")
                                     and m.name.endswith("__"))):
                        defs[f"{mod}.{node.name}.{m.name}"] = m.name
    uncalled = {q for q, name in defs.items() if name not in refs}
    assert uncalled <= set(_CENSUS_ALLOW), (
        f"no program caller (delete it, with the tests that only it "
        f"serves): {sorted(uncalled - set(_CENSUS_ALLOW))}")
    assert uncalled == set(_CENSUS_ALLOW), (
        f"allowlisted but called or gone: {sorted(set(_CENSUS_ALLOW) - uncalled)}")


def test_no_unused_module_imports():
    """Unused-import census: every module-level import binding in a program
    file or a test is referenced as a Name (an Attribute's base is one) in
    its own file.  ``from __future__`` imports are compiler directives and
    are skipped.  ``ast`` only: the census needs no linter."""
    paths = _program_files() + sorted(
        glob.glob(os.path.join(_ROOT, "tests/**/*.py"), recursive=True))
    unused = []
    for path in paths:
        tree = ast.parse(open(path).read(), path)
        names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for alias in node.names:
                    bound = alias.asname or alias.name.split(".")[0]
                    if bound not in names:
                        unused.append(f"{os.path.relpath(path, _ROOT)}:"
                                      f"{node.lineno} {bound}")
    assert not unused, f"unused module-level imports: {unused}"


# Defaulted parameters that no program call sets, each kept for a stated
# reason.
_OPTION_ALLOW = {
    "polygons.synthetic_layer(num_polygons=)":
        "test input: layer size; tests vary it and their inputs stay as they are",
    "polygons.synthetic_layer(base_radius=)":
        "test input: polygon radius; tests vary it and their inputs stay as they are",
    "polygons.synthetic_layer(seed=)":
        "test input: layer seed; tests vary it and their inputs stay as they are",
}


def _program_calls():
    """Per callee name: the keywords program calls pass, the most
    positional arguments one passes, and whether one unpacks ``*``/``**``."""
    kws, npos, star = collections.defaultdict(set), collections.Counter(), set()
    for path in _program_files():
        for node in ast.walk(ast.parse(open(path).read(), path)):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = (f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute) else None)
            if name is None:
                continue
            if (any(isinstance(a, ast.Starred) for a in node.args)
                    or any(k.arg is None for k in node.keywords)):
                star.add(name)
            npos[name] = max(npos[name], len(node.args))
            kws[name].update(k.arg for k in node.keywords)
    return kws, npos, star


def _defaulted_params(fn, bound):
    """(name, position or None) of every defaulted parameter of ``fn``;
    ``bound`` drops ``self``/``cls`` from the positions."""
    a = fn.args
    pos = a.posonlyargs + a.args
    if bound:
        pos = pos[1:]
    for i in range(len(pos) - len(a.defaults), len(pos)):
        yield pos[i].arg, i
    for arg, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield arg.arg, None


def test_every_option_is_passed_by_a_program_caller():
    """Option census: every defaulted parameter of a top-level function or
    method under polycheck_spark/ is set by some program call to a callee
    of that name — by keyword, by reaching its position, or through a
    ``*``/``**`` unpacking (a class call reaches ``__init__``).  An option
    no program sets has one value in use: it becomes a constant, and the
    branch it chose goes with the tests only it served.  Defs in
    _CENSUS_ALLOW are exempt; _OPTION_ALLOW lists the rest with a reason,
    and an entry that gains a caller leaves it."""
    kws, npos, star = _program_calls()
    unset = set()
    for path in glob.glob(os.path.join(_ROOT, "polycheck_spark/**/*.py"),
                          recursive=True):
        mod = os.path.splitext(os.path.basename(path))[0]
        defs = []
        for node in ast.parse(open(path).read(), path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.append((node.name, node.name, node, False))
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        static = any(isinstance(d, ast.Name)
                                     and d.id == "staticmethod"
                                     for d in m.decorator_list)
                        callee = node.name if m.name == "__init__" else m.name
                        defs.append((f"{node.name}.{m.name}", callee, m,
                                     not static))
        for qual, callee, fn, bound in defs:
            if f"{mod}.{qual}" in _CENSUS_ALLOW or callee in star:
                continue
            for name, i in _defaulted_params(fn, bound):
                if name in kws[callee] or (i is not None and i < npos[callee]):
                    continue
                unset.add(f"{mod}.{qual}({name}=)")
    assert unset <= set(_OPTION_ALLOW), (
        f"no program call sets these options (make each a constant and "
        f"delete what only it reached): {sorted(unset - set(_OPTION_ALLOW))}")
    assert unset == set(_OPTION_ALLOW), (
        f"allowlisted but set or gone: {sorted(set(_OPTION_ALLOW) - unset)}")
