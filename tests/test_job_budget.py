"""Spark jobs are paid only for work that needs the cluster: a phrase-
vocabulary pass is one action, driver-built tables are local relations
that read back without a job, a small ephemeral pipeline run stays
inside a fixed job budget, and a resumed checkpointed run submits no
job but the caller's triples read."""

from __future__ import annotations

import pytest

from llm_review_aggregation_spark import synth
from llm_review_aggregation_spark.config import PipelineConfig
from llm_review_aggregation_spark.functions import mining
from llm_review_aggregation_spark.operators import relations
from llm_review_aggregation_spark.plans.pipeline import run_pipeline
from llm_review_aggregation_spark.session import local_table

# jobs of one ephemeral run_pipeline(...).triples.collect() on the corpus
# below, with the test session's 4 cores and 4 shuffle partitions, as
# measured
PIPELINE_JOB_BUDGET = 17
# a resumed run on a complete work_dir opens only the triples checkpoint:
# the caller's triples read
RESUME_JOB_BUDGET = 1


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scored_pairs_pass_is_one_action(spark, jobs_submitted):
    """The distributed count (a shuffle map job and the job reading it)
    and nothing else: vocabulary size, filter and scoring ride along."""
    toks = [["red", "wine", "and", "blue", "cheese"], ["red", "wine"], ["blue", "cheese", "please"]] * 5
    sentences = spark.createDataFrame([(t,) for t in toks], "tokens array<string>").cache()
    sentences.count()
    try:
        pairs = []
        assert jobs_submitted(lambda: pairs.extend(mining._scored_pairs(sentences, 1, 0.0, 100))) <= 2
        assert ("red", "wine") in pairs
    finally:
        sentences.unpersist()


@pytest.mark.parametrize("rows", [[], [("a", 1), ("b", 2)]], ids=["empty", "rows"])
def test_local_table_reads_without_a_job(spark, jobs_submitted, rows):
    df = local_table(spark, rows, "term string, count long")
    assert _executed_plan(df).startswith("LocalTableScan")
    got = []
    assert jobs_submitted(lambda: got.extend(df.collect())) == 0
    assert [tuple(r) for r in got] == rows


def test_ontology_edges_read_without_a_job(spark, jobs_submitted):
    concepts = ["camera", "lens", "battery"]
    scores = spark.createDataFrame(
        [("lens", "camera", 4.0), ("battery", "camera", 3.0), ("lens", "battery", 0.5)],
        "child string, parent string, score_sum double",
    )
    edges = relations.build_ontology_edges(
        spark, scores, concepts, {"camera": 10, "lens": 4, "battery": 3}, "camera"
    )
    assert _executed_plan(edges).startswith("LocalTableScan")
    rows = []
    assert jobs_submitted(lambda: rows.extend(edges.collect())) == 0
    assert {(r["subj"], r["obj"]) for r in rows} == {("lens", "camera"), ("battery", "camera")}


def test_ephemeral_pipeline_job_budget(spark, jobs_submitted):
    # seed 16 is used by no other suite, so no other fixture's cached
    # sentences can stand in for this run's
    pages = synth.synthesize_pages(spark, n_groups=2, docs_per_group=10, seed=16)
    triples = []

    def run():
        with run_pipeline(spark, pages, PipelineConfig(root_name="camera")) as res:
            triples.extend(res.triples.collect())

    assert jobs_submitted(run) <= PIPELINE_JOB_BUDGET
    assert any(t["pred"] == "partOf" for t in triples)


def test_resumed_pipeline_job_budget(spark, jobs_submitted, tmp_path):
    pages = synth.synthesize_pages(spark, n_groups=2, docs_per_group=10, seed=16)
    work_dir = str(tmp_path / "kg")
    with run_pipeline(spark, pages, work_dir=work_dir) as res:
        first = sorted(map(tuple, res.triples.collect()))
    again = []

    def resume():
        with run_pipeline(spark, pages, work_dir=work_dir) as res:
            again.extend(map(tuple, res.triples.collect()))

    assert jobs_submitted(resume) <= RESUME_JOB_BUDGET
    assert sorted(again) == first and first
