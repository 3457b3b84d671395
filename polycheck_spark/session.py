"""SparkSession factory with engine defaults.

Tuned for the engine's workload shape: Arrow-batched pandas UDFs, AQE with
skew-join splitting, and shuffle partition counts sized for local[N] testing
(on a real cluster, set spark.sql.shuffle.partitions ~ 2-3x total cores and
spark.sql.files.maxPartitionBytes to 128-256 MiB; see BENCH/BASELINE.md).

``local_frame`` is the one way program code turns driver constants (Python
rows) into a DataFrame: an Arrow table the JVM holds as a ``LocalRelation``,
so no pickled Python RDD and no Python-worker stage stand behind it.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, types as T

ENGINE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # large Arrow batches: the PIP kernel is vectorized over the whole batch,
    # so per-batch Python/IPC overhead amortizes (6 MB/batch at 3 columns)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "262144",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def default_cpus() -> int:
    """Core count of a master nobody chose: ``SPARK_GRAFT_CPUS`` if set,
    else the cores this process may run on.  The one place that decides
    it (the jobs, ``bench_extra.py`` and ``tools/measure.py`` read it)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))


def _launcher_master() -> str | None:
    """The master a launcher set (``spark-submit --master``, or
    ``--master`` in ``PYSPARK_SUBMIT_ARGS``), else None.  ``local[*]`` is
    what spark-submit sets when it was given none, so it reads as unset."""
    from pyspark import SparkConf, SparkContext
    SparkContext._ensure_initialized()
    master = SparkConf().get("spark.master", None)
    return None if master in (None, "local[*]") else master


def _master_cores(master: str) -> int:
    """Task slots of a ``local``/``local[N]``/``local[N,F]`` master; for any
    other master (a cluster), ``default_cpus()``."""
    if master == "local":
        return 1
    m = re.fullmatch(r"local\[(\d+)(?:,\d+)?\]", master)
    return int(m.group(1)) if m else default_cpus()


def get_spark(app_name: str = "polycheck_spark", master: str | None = None,
              shuffle_partitions: int | None = None, **extra) -> SparkSession:
    """Session with ``ENGINE_CONFS``.  Master: the caller's, else the
    launcher's, else ``local[default_cpus()]``; shuffle partitions default
    to the master's task slots."""
    master = master or _launcher_master() or f"local[{default_cpus()}]"
    if shuffle_partitions is None:
        shuffle_partitions = _master_cores(master)
    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in {**ENGINE_CONFS,
                 "spark.sql.shuffle.partitions": str(shuffle_partitions),
                 **extra}.items():
        b = b.config(k, v)
    return b.getOrCreate()


def spread(df):
    """Round-robin repartition to the session's shuffle-partition count —
    the knob every harness already sets (the bench contract sizes it to
    the core count; the scaling harnesses pin it across parallelism levels
    so task grain never varies with worker count).  Used by the map-heavy
    operators whose source reads as 1-2 parquet splits: without it a
    mapInPandas stage runs on as many cores as there are input splits.
    Row placement never affects results — every consumer is
    batching-invariant (per-batch top-k supersets, per-row transforms,
    key-grouped aggregations downstream)."""
    spark = df.sparkSession
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        # already parallel enough — an exchange here would only move bytes
        # (measured: +33 s on the 16M-vector scaling workload, whose input
        # is synthesized at full width)
        return df
    return df.repartition(n)


def local_frame(spark: SparkSession, rows, schema: str | T.StructType) -> DataFrame:
    """Driver rows -> DataFrame over a JVM ``LocalRelation``.

    ``rows``: tuples in ``schema`` field order.  ``schema``: a DDL string or
    a ``StructType``; NOT NULL fields stay NOT NULL.  The rows become a
    ``pyarrow.Table`` typed by the Spark schema's Arrow mapping, which the
    JVM reads straight into a local relation: plans show ``LocalTableScan``,
    not ``Scan ExistingRDD``, and actions run no Python task to unpickle
    constants.  Values convert as ``createDataFrame`` converts Python rows
    (a double into a ``float`` field rounds to nearest float32).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
