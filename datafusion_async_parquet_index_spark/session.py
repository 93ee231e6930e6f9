"""SparkSession factory with scale-appropriate defaults.

Local testing runs ``local[N]``; the same settings are the ones we'd ship
on a 1000-executor cluster: AQE on (runtime re-plan, skew-join handling,
partition coalescing), Arrow enabled for the Pandas-UDF operators, and
shuffle partitions sized for the local corpus (override per deployment).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "datafusion_async_parquet_index_spark",
    shuffle_partitions: int = 32,
    master: str | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long (epoch nanos) and convert explicitly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # without this, any plan under a .cache() loses AQE partition
        # coalescing and every tiny shuffle runs at full width — the
        # dominant overhead for the cached-signature dedup operators
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # runtime bloom-filter injection degenerates on self-join-heavy
        # plans (minutes of BigInteger size-stat churn in the optimizer;
        # see operators/util.py) and has no pushdown target for computed
        # join keys — off engine-wide
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema=None) -> DataFrame:
    """A DataFrame over driver-built rows, shipped to the JVM as Arrow.

    ``rows`` is a sequence of tuples typed by ``schema`` (a
    ``StructType`` or DDL string), or a ``pyarrow.Table`` (``schema``
    then optional: it defaults to the table's own). Spark plans the
    result as a JVM ``LocalTableScan``, so no Python worker ever runs
    for it. A list handed to ``createDataFrame`` instead plans ``Scan
    ExistingRDD`` over a pickled Python RDD: every action on it, and
    every re-run of a broadcast built from it, starts a Python worker
    task to unpickle the rows (on a 4-core host, counting an empty list
    frame took 320–460 ms, an empty Arrow one 52–84 ms). Every frame
    the package builds from driver rows goes through here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if not isinstance(rows, pa.Table):
        arrow_schema = to_arrow_schema(schema)
        # strict: a row with a missing or extra field raises instead
        # of being cut to the shortest row or the schema's width
        cols = list(zip(*rows, strict=True)) or [()] * len(arrow_schema)
        rows = pa.Table.from_arrays(
            [pa.array(c, type=f.type)
             for c, f in zip(cols, arrow_schema, strict=True)],
            schema=arrow_schema)
    return spark.createDataFrame(rows, schema=schema)
