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


def get_spark(app_name: str = "polycheck_spark", master: str | None = None,
              shuffle_partitions: int | None = None, **extra) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
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
