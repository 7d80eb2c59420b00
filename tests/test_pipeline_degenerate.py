"""Degenerate-corpus behavior of run_pipeline.

The north rule's pipeline must be total over its input domain: an empty
crawl slice (a partition-pruned day with no pages) or a corpus in which no
aspect survives the probability threshold must produce empty, correctly
typed outputs — not a driver exception — because at 10^12-doc scale some
scheduled partition WILL be empty and a failed task there would fail the
whole job. Exercises pipeline.py's no-aspects early return.
"""

from __future__ import annotations

import pytest

from llm_review_aggregation_spark import synth
from llm_review_aggregation_spark.config import PipelineConfig
from llm_review_aggregation_spark.plans.pipeline import run_pipeline

TRIPLE_COLS = ["subj", "pred", "obj", "score"]


@pytest.fixture(scope="module")
def empty_result(spark):
    pages = synth.synthesize_pages(spark, n_groups=2, docs_per_group=3).limit(0)
    return run_pipeline(spark, pages, PipelineConfig(root_name="camera"))


class TestZeroPages:
    def test_triples_empty_and_typed(self, empty_result):
        assert empty_result.triples.columns == TRIPLE_COLS
        assert empty_result.triples.count() == 0

    def test_ontology_edges_empty_and_typed(self, empty_result):
        assert empty_result.ontology_edges.columns == TRIPLE_COLS
        assert empty_result.ontology_edges.count() == 0

    def test_arguments_schema_matches_nonempty_path(self, empty_result, spark):
        full = run_pipeline(
            spark,
            synth.synthesize_pages(spark, n_groups=2, docs_per_group=6),
            PipelineConfig(root_name="camera"),
        )
        assert empty_result.arguments.columns == full.arguments.columns
        assert empty_result.synsets.columns == full.synsets.columns
        assert empty_result.arguments.count() == 0

    def test_empty_outputs_read_without_a_job(self, empty_result, jobs_submitted):
        for df in (empty_result.synsets, empty_result.ontology_edges, empty_result.arguments):
            assert jobs_submitted(df.collect) == 0

    def test_root_and_maps_empty(self, empty_result):
        assert empty_result.root_name == ""
        assert empty_result.tree_edges == {}
        assert empty_result.synset_map == {}


class TestNoSurvivingAspects:
    def test_threshold_one_kills_all_aspects(self, spark):
        """entity_prob_threshold > max prob: candidates exist but no aspect
        survives, which must take the same typed-empty early return."""
        pages = synth.synthesize_pages(spark, n_groups=2, docs_per_group=4)
        res = run_pipeline(
            spark,
            pages,
            PipelineConfig(root_name=None, entity_prob_threshold=1.1),
        )
        assert res.triples.columns == TRIPLE_COLS
        assert res.triples.count() == 0
        assert res.root_name == ""
