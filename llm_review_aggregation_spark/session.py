"""SparkSession factory with the engine's scale-oriented defaults.

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on (every custom op is an Arrow-batched pandas UDF)
- sane shuffle partition count for the local harness; on a real cluster
  AQE coalesces, and callers override via config or spark-submit --conf

`local_table` is how the engine hands a driver-built table to Spark.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "llm-review-aggregation-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is not None:
        master = f"local[{cpus}]"
    else:
        master = os.environ.get("SPARK_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_table(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """`rows` (tuples in `schema`'s column order, a DDL string) as a local
    relation: it plans as a `LocalTableScan`, so reading it submits no Spark
    job and starts no Python worker. `createDataFrame` plans a list, and an
    empty pandas frame, as a Python RDD (`Scan ExistingRDD`), which costs a
    job on every read; an Arrow table, empty or not, stays local."""
    pdf = pd.DataFrame(rows, columns=StructType.fromDDL(schema).names)
    return spark.createDataFrame(pa.Table.from_pandas(pdf, preserve_index=False), schema)
