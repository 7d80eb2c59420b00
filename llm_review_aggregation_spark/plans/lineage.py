"""Per-stage checkpoint + per-partition lineage.

Generalizes the reference's run metadata (`aspect_extractions.status` /
`retry_count`, db/manager.py:172-190) and its model-file existence checks
(run.sh:47-53): every stage writes its output table plus lineage rows
(stage, partition_id, output_rows, checkpoint_ts, status, duration_sec); a
re-run skips stages whose lineage is complete — resume-from-checkpoint
mid-pipeline.

With parquet, the bookkeeping costs no Spark job, like the reference's one
status-row write: the lineage rows come from the parquet footers of the
files the stage's write produced, are written as one small parquet file by
the driver, and completion is read from that file on the driver. A
checkpointed stage then costs one Spark job, its write, and a resumed one
costs none: its schema comes from a data file's footer.

All table writes and reads go through one chokepoint pair (`_write_table` /
`_read_table`) selected by `table_format`:

- "parquet" (default): plain directories under work_dir — works everywhere.
- "iceberg": `df.writeTo(<catalog_table>).using("iceberg")` v2 writes into
  a namespace derived from work_dir, giving snapshot isolation + time
  travel on a cluster with an Iceberg catalog (SURVEY §1.4). When no
  catalog is configured (this sandbox), the store falls back to parquet at
  construction time with a warning, so pipelines are portable unchanged.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import warnings

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LINEAGE_SCHEMA = (
    "stage string, partition_id int, output_rows long, checkpoint_ts double, "
    "status string, duration_sec double"
)
# LINEAGE_SCHEMA for the driver-side writer; Spark reads the files back with
# LINEAGE_SCHEMA, so the two must name the same columns and types
_LINEAGE_ARROW = pa.schema([
    ("stage", pa.string()), ("partition_id", pa.int32()), ("output_rows", pa.int64()),
    ("checkpoint_ts", pa.float64()), ("status", pa.string()), ("duration_sec", pa.float64()),
])
_PART_RE = re.compile(r"part-(\d+)")
# parquet footer key under which Spark's writer stores the row schema as JSON
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# the session catalog that table_format="iceberg" writes through
_CATALOG = "spark_catalog"


class StageStore:
    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        table_format: str = "parquet",
        bucket_spec: dict[str, tuple[str, int]] | None = None,
    ):
        """`bucket_spec` maps a stage name to (key, n_buckets): that stage's
        checkpoint is written hash-bucketed (and sorted) on the key, so every
        downstream join/aggregate on it plans without an Exchange — one
        shuffle at write time buys shuffle-free repeated consumption, and at
        scale the shuffle on the join key is the dominant cost of repeated
        joins. Parquet format only; the
        bucket layout lives in the session catalog and is re-registered from
        the on-disk files on resume in a fresh session."""
        self.spark = spark
        self.work_dir = work_dir
        self.bucket_spec = dict(bucket_spec or {})
        os.makedirs(work_dir, exist_ok=True)
        if table_format == "iceberg" and not self._iceberg_usable():
            warnings.warn(
                "table_format='iceberg' requested but no Iceberg catalog is "
                "configured on this session; falling back to parquet",
                stacklevel=2,
            )
            table_format = "parquet"
        self.table_format = table_format

    # -- iceberg -------------------------------------------------------------
    def _namespace(self) -> str:
        # one namespace per work_dir so concurrent runs don't collide
        return "kg_" + re.sub(r"[^A-Za-z0-9_]", "_", self.work_dir).strip("_")

    def _table_ident(self, stage: str) -> str:
        return f"{_CATALOG}.{self._namespace()}.{stage}"

    def _iceberg_usable(self) -> bool:
        """True iff the session's catalog accepts Iceberg v2 writes (an
        Iceberg SparkCatalog / SparkSessionCatalog is configured)."""
        impl = self.spark.conf.get(f"spark.sql.catalog.{_CATALOG}", None)
        if not impl or "iceberg" not in impl.lower():
            return False
        try:
            self.spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {_CATALOG}.{self._namespace()}")
            return True
        except Exception:
            return False

    # -- format chokepoints ---------------------------------------------------
    def _bucket_table_name(self, stage: str) -> str:
        return f"{self._namespace()}_{stage}"

    def _write_table(self, df: DataFrame, stage: str, kind: str = "table") -> None:
        if self.table_format == "iceberg":
            df.writeTo(self._table_ident(f"{kind}_{stage}")).using("iceberg").createOrReplace()
            return
        path = self._table_path(stage) if kind == "table" else self._lineage_path(stage)
        if kind == "table" and stage in self.bucket_spec:
            key, n_buckets = self.bucket_spec[stage]
            name = self._bucket_table_name(stage)
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.mode("overwrite")
                .option("path", path)
                .bucketBy(n_buckets, key)
                .sortBy(key)
                .saveAsTable(name)
            )
            return
        df.write.mode("overwrite").parquet(path)

    def _read_table(
        self, stage: str, kind: str = "table", schema: StructType | None = None
    ) -> DataFrame:
        """`schema`, when the caller knows it (it just wrote the table),
        spares the plain-parquet read its schema-inference job; otherwise
        it comes from a data file's footer, which costs no job either."""
        if self.table_format == "iceberg":
            return self.spark.table(self._table_ident(f"{kind}_{stage}"))
        path = self._table_path(stage) if kind == "table" else self._lineage_path(stage)
        if schema is None:
            schema = self._footer_schema(path)
        if kind == "table" and stage in self.bucket_spec:
            name = self._bucket_table_name(stage)
            if not self.spark.catalog.tableExists(name):
                # resume in a fresh session: the files on disk carry the
                # bucket layout in their names; re-register the external
                # table so Catalyst recovers outputPartitioning
                key, n_buckets = self.bucket_spec[stage]
                if schema is None:
                    schema = self.spark.read.parquet(path).schema
                self.spark.sql(
                    f"CREATE TABLE {name} ({schema.toDDL()}) USING PARQUET "
                    f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n_buckets} BUCKETS "
                    f"LOCATION '{path}'"
                )
            return self.spark.table(name)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(path)

    @staticmethod
    def _footer_schema(path: str) -> StructType | None:
        """The Spark schema Spark's parquet writer stored in the footer of
        `path`'s first data file (an empty stage still writes one), read on
        the driver; None when no data file carries it, so the caller falls
        back to Spark's schema inference."""
        try:
            names = sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))
        except OSError:
            return None
        if not names:
            return None
        raw = (pq.read_schema(os.path.join(path, names[0])).metadata or {}).get(_SPARK_SCHEMA_KEY)
        return None if raw is None else StructType.fromJson(json.loads(raw))

    # -- paths ---------------------------------------------------------------
    def _table_path(self, stage: str) -> str:
        return os.path.join(self.work_dir, stage)

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.work_dir, "_lineage", stage)

    def _artifact_path(self, stage: str) -> str:
        return os.path.join(self.work_dir, "_artifacts", f"{stage}.json")

    # -- status ---------------------------------------------------------------
    def is_complete(self, stage: str) -> bool:
        """Whether `stage` resumes without computing: its JSON artifact
        exists, or its table lineage says complete."""
        if os.path.exists(self._artifact_path(stage)):
            return True
        if self.table_format == "iceberg":
            try:
                rows = self._read_table(stage, kind="lineage").filter(F.col("status") == "complete").count()
                return rows > 0
            except Exception:
                return False
        # driver-side read of the lineage file(s): also accepts lineage
        # dirs Spark wrote (several part files beside _SUCCESS / .crc)
        try:
            status = pq.read_table(self._lineage_path(stage), columns=["status"]).column("status")
        except (OSError, pa.ArrowException):  # no lineage dir, or no lineage file in it yet
            return False
        return "complete" in status.to_pylist()

    @staticmethod
    def _footer_counts(path: str) -> list[tuple[int, int]]:
        """(partition_id, output_rows) of a parquet table directory, from
        its data files' footers. Partition identity is the writer task's
        part-NNNNN, not the layout a read-back scan would bin-pack the files
        into; a task that wrote several files (buckets, maxRecordsPerFile)
        sums over them, and zero-row files are dropped, as a row-level
        rollup would drop them."""
        rows: dict[int, int] = {}
        for name in os.listdir(path):
            if name.startswith(("_", ".")):  # _SUCCESS, .crc: not data, as Spark lists them
                continue
            n = pq.read_metadata(os.path.join(path, name)).num_rows
            if n:
                pid = int(_PART_RE.search(name).group(1))
                rows[pid] = rows.get(pid, 0) + n
        return sorted(rows.items())

    def _write_lineage(self, stage: str, duration_sec: float) -> None:
        if self.table_format == "iceberg":
            counts = self._read_table(stage).groupBy(F.spark_partition_id()).count().collect()
        else:
            counts = self._footer_counts(self._table_path(stage))
        ts = time.time()
        # an empty stage still records one row, so it resumes as complete
        rows = [(stage, pid, n, ts, "complete", duration_sec) for pid, n in counts] or [
            (stage, -1, 0, ts, "complete", duration_sec)
        ]
        if self.table_format == "iceberg":
            self._write_table(self.spark.createDataFrame(rows, LINEAGE_SCHEMA), stage, kind="lineage")
            return
        # replace the whole dir (like Spark's overwrite), then publish the
        # file under a hidden temp name first: a kill at any point leaves
        # either no lineage file, so the stage recomputes, or a complete one
        path = self._lineage_path(stage)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        tmp = os.path.join(path, ".part-00000.parquet.tmp")
        table = pa.Table.from_pylist([dict(zip(_LINEAGE_ARROW.names, r)) for r in rows], _LINEAGE_ARROW)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(path, "part-00000.parquet"))

    # -- DataFrame stages ------------------------------------------------------
    def run_table(self, stage: str, fn) -> DataFrame:
        """Checkpoint `fn()` as `stage`, or, when the stage's lineage says
        complete, read the checkpoint back without calling `fn`. With
        parquet a fresh stage costs one Spark job, its write: the lineage
        rows come from the written files' footers, completion is read on
        the driver, and the read-back reuses the schema just written
        instead of inferring it. A local relation (`df.isLocal()`, a table
        the driver built) is handed back as is, so reading it needs no job.
        `duration_sec` covers compute and write."""
        if self.is_complete(stage):
            return self._read_table(stage)
        t0 = time.time()
        df = fn()
        self._write_table(df, stage)
        self._write_lineage(stage, duration_sec=time.time() - t0)
        return df if df.isLocal() else self._read_table(stage, schema=df.schema)

    # -- small JSON artifacts (phrase tables, synsets, tree) -------------------
    def run_artifact(self, stage: str, fn):
        path = self._artifact_path(stage)
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = fn()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(value, f)
        os.replace(tmp, path)
        return value

    def lineage(self) -> DataFrame:
        if self.table_format == "iceberg":
            ns = f"{_CATALOG}.{self._namespace()}"
            names = [
                r["tableName"]
                for r in self.spark.sql(f"SHOW TABLES IN {ns}").collect()
                if r["tableName"].startswith("lineage_")
            ]
            out = None
            for n in names:
                t = self._coerce_lineage_schema(self.spark.table(f"{ns}.{n}"))
                out = t if out is None else out.unionByName(t)
            if out is not None:
                return out
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        # explicit schema, not inference: work_dirs written before the
        # schema gained duration_sec hold mixed-schema parquet, and the
        # reader fills columns missing from a file with null instead of
        # failing the rollup on whichever file inference sampled
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(
            os.path.join(self.work_dir, "_lineage", "*")
        )

    @staticmethod
    def _coerce_lineage_schema(df: DataFrame) -> DataFrame:
        """Back-compat for lineage tables written before duration_sec."""
        if "duration_sec" not in df.columns:
            df = df.withColumn("duration_sec", F.lit(None).cast("double"))
        return df.select(
            "stage", "partition_id", "output_rows", "checkpoint_ts", "status", "duration_sec"
        )

    def metrics(self) -> DataFrame:
        """Per-stage run metrics rolled up from the per-partition lineage:
        (stage, n_partitions, output_rows, duration_sec, rows_per_sec,
        partition_skew) where partition_skew = max partition rows / mean
        partition rows — the number an operator watches to decide whether a
        stage needs salting before the next 100x scale-up. Stage wall time
        covers compute + checkpoint write (what actually gates a resumable
        run)."""
        lin = self.lineage()
        return (
            lin.groupBy("stage")
            .agg(
                F.count(F.lit(1)).alias("n_partitions"),
                F.sum("output_rows").alias("output_rows"),
                F.max("duration_sec").alias("duration_sec"),
                F.max("output_rows").alias("_max_part"),
                F.avg("output_rows").alias("_avg_part"),
            )
            .select(
                "stage",
                "n_partitions",
                "output_rows",
                F.round("duration_sec", 3).alias("duration_sec"),
                F.round(
                    F.col("output_rows") / F.greatest(F.col("duration_sec"), F.lit(1e-9)), 2
                ).alias("rows_per_sec"),
                F.round(
                    F.col("_max_part") / F.greatest(F.col("_avg_part"), F.lit(1e-9)), 3
                ).alias("partition_skew"),
            )
        )


# max/mean partition rows at which skew_advice flags a stage
SKEW_THRESHOLD = 4.0


def skew_advice(metrics_df: DataFrame) -> list[dict]:
    """Turn the per-stage `partition_skew` metric into advice for a manual
    fix: stages whose max-partition/mean-partition row ratio reaches
    SKEW_THRESHOLD get a flagged row naming what to change before the next run
    (operators/skew.py salted_agg, or a repartition on a finer key). Nothing
    acts on it: the metric is a checkpoint's output layout, not a task's
    load. Single-partition stages can't be skewed by definition and tiny
    stages aren't worth salting, so both are exempt. Returned as plain dicts
    so the CLI report can embed it."""
    rows = metrics_df.filter(
        (F.col("partition_skew") >= SKEW_THRESHOLD)
        & (F.col("n_partitions") > 1)
        & (F.col("output_rows") >= 1000)
    ).collect()
    return [
        {
            "stage": r["stage"],
            "partition_skew": r["partition_skew"],
            "n_partitions": r["n_partitions"],
            "output_rows": r["output_rows"],
            "advice": (
                "partition skew exceeds "
                f"{SKEW_THRESHOLD}x: before the next run, rewrite this stage's "
                "aggregate with a salted key "
                "(llm_review_aggregation_spark.operators.skew.salted_agg) or "
                "repartition its input on a finer key"
            ),
        }
        for r in rows
    ]


class EphemeralStore:
    """No work_dir: stages run in memory (no resume)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def is_complete(self, stage: str) -> bool:
        return False

    def run_table(self, stage: str, fn) -> DataFrame:
        return fn()

    def run_artifact(self, stage: str, fn):
        return fn()
