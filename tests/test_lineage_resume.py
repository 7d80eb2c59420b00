"""Checkpoint/lineage/resume behavior (FIXTURES.md §3 `_lineage`)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from llm_review_aggregation_spark.plans.lineage import StageStore


@pytest.fixture()
def work_dir(tmp_path):
    d = str(tmp_path / "wd")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stage_checkpoint_and_resume(spark, work_dir):
    store = StageStore(spark, work_dir)
    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return spark.range(10).withColumn("v", F.col("id") * 2)

    df1 = store.run_table("stage_a", make)
    assert df1.count() == 10
    assert calls["n"] == 1
    # resume: fn not called again
    df2 = store.run_table("stage_a", make)
    assert df2.count() == 10
    assert calls["n"] == 1
    # force recompute by dropping lineage
    shutil.rmtree(os.path.join(work_dir, "_lineage", "stage_a"))
    df3 = store.run_table("stage_a", make)
    assert calls["n"] == 2
    assert df3.count() == 10


def test_lineage_rows_record_partitions(spark, work_dir):
    store = StageStore(spark, work_dir)
    store.run_table("stage_b", lambda: spark.range(100).repartition(4))
    lin = store.lineage().filter(F.col("stage") == "stage_b")
    rows = lin.collect()
    assert sum(r["output_rows"] for r in rows) == 100
    assert all(r["status"] == "complete" for r in rows)


def test_stage_metrics_rollup(spark, work_dir):
    """metrics() reports per-stage wall time, throughput, and partition skew
    from the lineage rows — the operational surface the north rule's
    'lineage + metrics' requirement names. Skew on a deliberately lopsided
    stage must exceed the balanced stage's."""
    store = StageStore(spark, work_dir)
    store.run_table("stage_flat", lambda: spark.range(100).repartition(4))
    # keys 1 and 2 hash to different slots mod 2 -> a 90/10 two-file layout
    # (a plain 2-partition union would be coalesced back to one by AQE)
    store.run_table(
        "stage_skewed",
        lambda: spark.range(100).repartition(
            2, F.when(F.col("id") < 90, 1).otherwise(2).cast("int")
        ),
    )
    m = {r["stage"]: r for r in store.metrics().collect()}
    assert m["stage_flat"]["output_rows"] == 100
    assert m["stage_flat"]["n_partitions"] == 4
    assert m["stage_flat"]["duration_sec"] > 0
    assert m["stage_flat"]["rows_per_sec"] > 0
    assert m["stage_flat"]["partition_skew"] <= 1.2  # round-robin, ~25 each
    assert m["stage_skewed"]["n_partitions"] == 2  # 90-row and 10-row files
    assert m["stage_skewed"]["partition_skew"] == 1.8  # 90 / mean(90, 10)


def _spark_rollup(spark, path):
    """(partition_id, output_rows) as lineage rows were computed before they
    came from the parquet footers: a Spark groupBy of the table's rows on
    the writer task's part-NNNNN of the file each row was read from."""
    pid = F.regexp_extract(F.col("_metadata.file_name"), r"part-(\d+)", 1).cast("int")
    return sorted(tuple(r) for r in spark.read.parquet(path).groupBy(pid).count().collect())


def _lineage_rows(store, stage):
    lin = store.lineage().filter(F.col("stage") == stage)
    return sorted((r["partition_id"], r["output_rows"]) for r in lin.collect())


def _data_files(path):
    return [f for f in os.listdir(path) if not f.startswith(("_", "."))]


def test_footer_lineage_matches_spark_rollup_multi_file_tasks(spark, work_dir):
    """A task that writes several files (maxRecordsPerFile) is one
    partition_id whose output_rows sum over its files."""
    store = StageStore(spark, work_dir)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
    try:
        store.run_table("stage_split", lambda: spark.range(0, 100, 1, 4))
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    path = os.path.join(work_dir, "stage_split")
    assert len(_data_files(path)) == 12  # 4 tasks x (10 + 10 + 5 rows)
    assert _lineage_rows(store, "stage_split") == _spark_rollup(spark, path)
    assert _lineage_rows(store, "stage_split") == [(i, 25) for i in range(4)]


def test_footer_lineage_matches_spark_rollup_bucketed(spark, work_dir):
    """A bucketed stage's task writes one file per bucket it holds rows for."""
    store = StageStore(spark, work_dir, bucket_spec={"stage_bkt": ("k", 4)})
    store.run_table(
        "stage_bkt", lambda: spark.range(0, 200, 1, 3).withColumn("k", F.col("id") % 7)
    )
    path = os.path.join(work_dir, "stage_bkt")
    assert len(_data_files(path)) > 3
    rows = _lineage_rows(store, "stage_bkt")
    assert rows == _spark_rollup(spark, path)
    assert sum(n for _, n in rows) == 200


def test_checkpoint_bookkeeping_job_budget(spark, work_dir, jobs_submitted):
    """A fresh narrow stage costs one Spark job, its write: lineage comes
    from the footers, completion and the read-back schema need no job."""
    store = StageStore(spark, work_dir)
    assert jobs_submitted(lambda: store.run_table("stage_j", lambda: spark.range(0, 100, 1, 4))) == 1
    assert jobs_submitted(lambda: store.is_complete("stage_j")) == 0
    assert store.is_complete("stage_j")


@pytest.mark.parametrize(
    "stage, bucket_spec, make",
    [
        ("stage_r", None, lambda s: s.range(0, 100, 1, 4).withColumn("v", F.col("id").cast("string"))),
        ("stage_r_empty", None, lambda s: s.range(5).filter(F.col("id") < 0)),
        ("stage_r_bkt", ("k", 4), lambda s: s.range(0, 200, 1, 3).withColumn("k", F.col("id") % 7)),
    ],
)
def test_resume_job_budget(spark, work_dir, jobs_submitted, stage, bucket_spec, make):
    """Resuming a complete stage submits no Spark job: the schema comes from
    a data file's footer, not from inference. A bucketed stage is resumed as
    in a fresh session, with its catalog table gone."""
    store = StageStore(spark, work_dir, bucket_spec={stage: bucket_spec} if bucket_spec else None)
    written = store.run_table(stage, lambda: make(spark))
    want = sorted(written.collect())
    if bucket_spec:
        spark.sql(f"DROP TABLE {store._bucket_table_name(stage)}")
    resumed = []
    recompute = lambda: (_ for _ in ()).throw(AssertionError("recomputed"))  # noqa: E731
    assert jobs_submitted(lambda: resumed.append(store.run_table(stage, recompute))) == 0
    assert resumed[0].schema == written.schema
    assert sorted(resumed[0].collect()) == want


def test_is_complete_reads_spark_written_lineage(spark, work_dir):
    """Lineage dirs written by Spark (several part files beside _SUCCESS and
    .crc files) still resume; a dir holding only an unpublished temp file
    does not."""
    spark.createDataFrame(
        [("old", 0, 3, 1.0, "complete", 0.5), ("old", 1, 4, 1.0, "complete", 0.5)],
        "stage string, partition_id int, output_rows long, checkpoint_ts double, "
        "status string, duration_sec double",
    ).repartition(2).write.parquet(os.path.join(work_dir, "_lineage", "old"))
    store = StageStore(spark, work_dir)
    assert store.is_complete("old")
    killed = os.path.join(work_dir, "_lineage", "killed")
    os.makedirs(killed)
    with open(os.path.join(killed, ".part-00000.parquet.tmp"), "wb") as f:
        f.write(b"PAR1")
    assert not store.is_complete("killed")
    assert not store.is_complete("never_ran")


def test_empty_stage_records_lineage(spark, work_dir):
    store = StageStore(spark, work_dir)
    store.run_table("stage_empty", lambda: spark.range(5).filter(F.col("id") < 0))
    assert store.is_complete("stage_empty")
    assert _lineage_rows(store, "stage_empty") == [(-1, 0)]
    df = store.run_table("stage_empty", lambda: (_ for _ in ()).throw(AssertionError("recomputed")))
    assert df.count() == 0


def test_artifact_resume(spark, work_dir):
    store = StageStore(spark, work_dir)
    calls = {"n": 0}

    def make():
        calls["n"] += 1
        return {"pairs": [["a", "b"]]}

    a1 = store.run_artifact("art", make)
    a2 = store.run_artifact("art", make)
    assert a1 == a2 == {"pairs": [["a", "b"]]}
    assert calls["n"] == 1


def test_pipeline_mid_run_kill_and_resume(spark, work_dir, monkeypatch):
    """SURVEY §7.2 M6: kill the pipeline mid-run (simulated failure in E6),
    then re-run with the same work_dir — completed stages are not recomputed
    (same checkpoint_ts) and the final triples match a clean run."""
    import pytest as _pytest

    from llm_review_aggregation_spark import synth
    from llm_review_aggregation_spark.config import PipelineConfig
    from llm_review_aggregation_spark.operators import relations
    from llm_review_aggregation_spark.plans import pipeline as pl

    pages = synth.synthesize_pages(spark, n_groups=2, docs_per_group=10)
    cfg = PipelineConfig(root_name="camera")
    orig = relations.accumulate_meronym_scores

    def boom(*a, **k):
        raise RuntimeError("simulated kill")

    monkeypatch.setattr(relations, "accumulate_meronym_scores", boom)
    with _pytest.raises(RuntimeError, match="simulated kill"):
        pl.run_pipeline(spark, pages, cfg, work_dir=work_dir)
    monkeypatch.setattr(relations, "accumulate_meronym_scores", orig)

    store = StageStore(spark, work_dir)
    ts_before = {
        r["stage"]: r["checkpoint_ts"]
        for r in store.lineage().select("stage", "checkpoint_ts").distinct().collect()
    }
    assert "aspects" in ts_before and "meronym_scores" not in ts_before

    res = pl.run_pipeline(spark, pages, cfg, work_dir=work_dir)
    ts_after = {
        r["stage"]: r["checkpoint_ts"]
        for r in store.lineage().select("stage", "checkpoint_ts").distinct().collect()
    }
    for stage, ts in ts_before.items():
        assert ts_after[stage] == ts  # completed stages untouched by resume

    clean = pl.run_pipeline(spark, pages, cfg)

    def rows(df):
        # resumed stages read from parquet with different partitioning than
        # the ephemeral run, so float sums differ in the last ulps
        return sorted((r["subj"], r["pred"], r["obj"], round(r["score"], 9)) for r in df.collect())

    assert rows(res.triples) == rows(clean.triples)


def test_iceberg_falls_back_without_catalog(spark, work_dir):
    """table_format='iceberg' on a session with no Iceberg catalog must warn
    and degrade to parquet (same semantics), not fail (SURVEY §1.4)."""
    with pytest.warns(UserWarning, match="[Ii]ceberg"):
        store = StageStore(spark, work_dir, table_format="iceberg")
    assert store.table_format == "parquet"
    df = store.run_table("stage_i", lambda: spark.range(5))
    assert df.count() == 5
    # the parquet fallback actually landed on disk and resumes
    assert os.path.isdir(os.path.join(work_dir, "stage_i"))
    assert store.is_complete("stage_i")


def test_iceberg_branch_selected_with_catalog_conf(spark, work_dir, monkeypatch):
    """With an Iceberg-implementing catalog configured, the store keeps
    table_format='iceberg' and routes writes through writeTo()."""
    store = StageStore.__new__(StageStore)
    store.spark = spark
    store.work_dir = work_dir
    store.table_format = "iceberg"
    # identifier shape: catalog.namespace.kind_stage
    ident = store._table_ident("table_docs")
    assert ident.startswith("spark_catalog.kg_") and ident.endswith(".table_docs")
    # _iceberg_usable is False on this session (no iceberg catalog impl)
    assert store._iceberg_usable() is False


def test_lineage_backcompat_missing_duration(spark, work_dir):
    """work_dirs written before the schema gained duration_sec must still
    roll up: the explicit-schema read fills the missing column with null
    instead of failing on mixed-schema parquet."""
    old = spark.createDataFrame(
        [("legacy", 0, 10, 1.0, "complete")],
        "stage string, partition_id int, output_rows long, checkpoint_ts double, status string",
    )
    old.write.mode("overwrite").parquet(os.path.join(work_dir, "_lineage", "legacy"))
    store = StageStore(spark, work_dir)
    store.run_table("fresh", lambda: spark.range(7))  # new-schema rows alongside
    lin = store.lineage()
    assert set(lin.columns) == {
        "stage", "partition_id", "output_rows", "checkpoint_ts", "status", "duration_sec"
    }
    rows = {r["stage"]: r for r in lin.collect()}
    assert rows["legacy"]["duration_sec"] is None
    assert rows["fresh"]["duration_sec"] is not None
    mets = {r["stage"]: r for r in store.metrics().collect()}
    assert mets["legacy"]["output_rows"] == 10  # rollup survives the null


def test_skew_advice_fires_on_skew_not_uniform(spark):
    """The skew metric must become an action: flagged on a lopsided stage,
    silent on a uniform one (and on single-partition/tiny stages)."""
    from llm_review_aggregation_spark.plans.lineage import skew_advice

    mets = spark.createDataFrame(
        [
            ("hot", 8, 80_000, 12.0, 6666.7, 7.5),     # skewed -> flag
            ("flat", 8, 80_000, 12.0, 6666.7, 1.1),    # uniform -> no flag
            ("one_part", 1, 80_000, 12.0, 6666.7, 9.0),  # single partition -> exempt
            ("tiny", 8, 64, 0.1, 640.0, 9.0),          # tiny stage -> exempt
        ],
        "stage string, n_partitions int, output_rows long, duration_sec double, "
        "rows_per_sec double, partition_skew double",
    )
    advice = skew_advice(mets)
    assert [a["stage"] for a in advice] == ["hot"]
    assert "salted_agg" in advice[0]["advice"]
