"""The stat-checked ``zipimporter.invalidate_caches`` installed by importing
``polycheck_spark``: it keeps the original semantics on a real zip archive,
and Python workers that ran a program UDF carry it into their later tasks."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd

import polycheck_spark


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["pcs_zip_a"])
    rereads = []
    original = polycheck_spark._reread

    def counting_reread(self):
        if self.archive == archive:
            rereads.append(self.archive)
        return original(self)

    monkeypatch.setattr(polycheck_spark, "_reread", counting_reread)
    monkeypatch.syspath_prepend(archive)
    for name in ("pcs_zip_a", "pcs_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert zipimport.zipimporter.invalidate_caches is polycheck_spark._invalidate_if_changed

    assert importlib.import_module("pcs_zip_a").NAME == "pcs_zip_a"
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(rereads) == 1            # first call re-reads, unchanged skips

    _write_zip(archive, ["pcs_zip_a", "pcs_zip_b"])
    importlib.invalidate_caches()
    assert len(rereads) == 2
    assert importlib.import_module("pcs_zip_b").NAME == "pcs_zip_b"

    os.remove(archive)
    importlib.invalidate_caches()       # missing archive: original path, no raise
    importlib.invalidate_caches()
    assert len(rereads) == 4


def test_workers_keep_the_wrapper_after_a_pip_join(spark):
    from polycheck_spark.data import synth
    from polycheck_spark.data.polygons import default_query_layer
    from polycheck_spark.operators import pip_join as PJ

    pages = synth.geocoded_pages(spark, 4000, partitions=8)
    assert PJ.pip_join(spark, pages, default_query_layer()).count() > 0

    def probe(batches):
        # nested, so pickled by value: the worker imports no program module
        # before the ``import`` below runs.  ``keyed`` counts the cached
        # zipimporters the wrapper has stat-keyed, which it did at this
        # task's start only if an earlier task of this worker installed it.
        keyed = sum(isinstance(v, zipimport.zipimporter) and "_stat_key" in v.__dict__
                    for v in sys.path_importer_cache.values())
        import polycheck_spark
        installed = (zipimport.zipimporter.invalidate_caches
                     is polycheck_spark._invalidate_if_changed)
        for _ in batches:
            yield pd.DataFrame({"pid": [os.getpid()], "installed": [installed],
                                "keyed": [keyed]})

    rows = (spark.range(0, 8, numPartitions=8)
            .mapInPandas(probe, "pid long, installed boolean, keyed long")
            .collect())
    assert len(rows) == 8
    assert all(r["pid"] != os.getpid() for r in rows)
    assert all(r["installed"] for r in rows)
    # worker reuse: some probe task ran in a worker that a pip_join task had
    # already given the wrapper, so that task's start-up re-read was skipped
    assert any(r["keyed"] > 0 for r in rows)


_UNPICKLE_PROBE = """
import pickle, sys
sys.path.insert(0, sys.argv[1])
import pyspark.core.broadcast as B
B._from_id = lambda bid: None          # broadcast ids resolve only in a worker
for path in sys.argv[2:]:
    pickle.loads(open(path, "rb").read())
    print("polycheck_spark" in sys.modules)
    for name in [m for m in sys.modules if m.startswith("polycheck_spark")]:
        del sys.modules[name]
"""


def test_query_path_worker_functions_import_the_program(spark, tmp_path, monkeypatch):
    """Each operator's pickled Python-worker command imports a program module
    when a worker unpickles it, so that worker installs the wrapper.  A
    closure that references only NumPy/pandas would not."""
    import pyspark.core.rdd as R
    from pyspark.serializers import CloudPickleSerializer
    from polycheck_spark.data.polygons import default_query_layer
    from polycheck_spark.operators import dedup as D, multimodal as MM, pip_join as PJ
    from polycheck_spark.operators import text as TX

    commands = []
    prepare = R._prepare_for_python_RDD

    def record(sc, command):
        commands.append(CloudPickleSerializer().dumps(command))
        return prepare(sc, command)

    monkeypatch.setattr(R, "_prepare_for_python_RDD", record)
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], "doc_id long, text string")
    pts = spark.createDataFrame([(0.0, 0.0, "u")], "lon double, lat double, url string")
    plans = {
        "_shingles": lambda: D._shingles(docs),
        "minhash_signatures": lambda: D.minhash_signatures(docs),
        "simhash(bits=60)": lambda: D.simhash(docs, bits=60),
        "containment_pairs": lambda: D.containment_pairs(docs),
        "_doc_token_tf": lambda: TX._doc_token_tf(docs),
        # a module-level UDF pickles its function once per process (maybe in
        # an earlier test), so pickle that function here as the UDF would
        "media_dims": lambda: commands.append(
            CloudPickleSerializer().dumps(MM._jpeg_dims_udf.func)),
        "pip_join": lambda: PJ.pip_join(spark, pts, default_query_layer()),
    }
    names, paths = [], []
    for name, build in plans.items():
        del commands[:]
        build()
        assert commands, name
        for data in commands:       # containment_pairs also builds _shingles
            names.append(name)
            paths.append(tmp_path / f"{len(paths)}.pkl")
            paths[-1].write_bytes(data)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", _UNPICKLE_PROBE, repo, *map(str, paths)],
                         capture_output=True, text=True, cwd=str(tmp_path), check=True)
    assert list(zip(names, out.stdout.split())) == [(n, "True") for n in names]
