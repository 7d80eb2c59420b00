"""Demand-driven resume of run_pipeline: a re-run computes only the stages
whose checkpoint is missing and opens a complete checkpoint only when a
caller reads it."""

from __future__ import annotations

import os
import shutil

import pytest

from llm_review_aggregation_spark import synth
from llm_review_aggregation_spark.config import PipelineConfig
from llm_review_aggregation_spark.plans.lineage import StageStore
from llm_review_aggregation_spark.plans.pipeline import run_pipeline

CFG = PipelineConfig(root_name="camera")
# the table stages in the order a fresh run writes them
TABLE_STAGES = [
    "docs", "sentences", "candidates", "aspects", "synsets",
    "meronym_scores", "ontology_edges", "arguments", "triples",
]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _triples(df):
    # resumed stages read from parquet with different partitioning than a
    # fresh run, so float sums may differ in the last ulps
    return sorted((r["subj"], r["pred"], r["obj"], round(r["score"], 9)) for r in df.collect())


def _cached_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


@pytest.fixture(scope="module")
def pages(spark):
    # seed 19 is used by no other suite, so no other fixture's cached
    # sentences can stand in for this module's runs
    return synth.synthesize_pages(spark, n_groups=2, docs_per_group=10, seed=19)


@pytest.fixture(scope="module")
def first(spark, pages, tmp_path_factory):
    """A complete work_dir and what its fresh run returned."""
    work_dir = str(tmp_path_factory.mktemp("resume") / "kg")
    with run_pipeline(spark, pages, CFG, work_dir=work_dir) as res:
        out = {
            "work_dir": work_dir,
            "triples": _triples(res.triples),
            "sentences": _rows(res.sentences),
            "candidates": _rows(res.candidates),
            "aspects": _rows(res.aspects),
            "ontology_edges": _rows(res.ontology_edges),
            "root_name": res.root_name,
            "tree_edges": res.tree_edges,
            "synset_map": res.synset_map,
        }
    assert out["triples"] and out["tree_edges"]
    return out


@pytest.fixture()
def opened(monkeypatch):
    """The table checkpoints the store opens, in order."""
    names: list[str] = []
    read = StageStore._read_table

    def spy(self, stage, kind="table", schema=None):
        if kind == "table":
            names.append(stage)
        return read(self, stage, kind, schema)

    monkeypatch.setattr(StageStore, "_read_table", spy)
    return names


def test_fresh_run_writes_every_stage_in_order(spark, first):
    lineage = StageStore(spark, first["work_dir"]).lineage()
    written = {r["stage"]: r["checkpoint_ts"] for r in lineage.collect()}
    assert sorted(written, key=written.get) == TABLE_STAGES
    for artifact in ("phrase_vocab", "concepts"):
        assert os.path.isfile(os.path.join(first["work_dir"], "_artifacts", f"{artifact}.json"))


def test_resume_opens_only_triples(spark, pages, first, opened, jobs_submitted):
    got = []

    def resume():
        res = run_pipeline(spark, pages, CFG, work_dir=first["work_dir"])
        got.append(res)
        got.append(_triples(res.triples))

    assert jobs_submitted(resume) == 1
    assert opened == ["triples"]
    res, triples = got
    assert triples == first["triples"]
    # every other field resolves on first access, to the fresh run's value
    with res:
        assert _rows(res.sentences) == first["sentences"]
        assert _rows(res.candidates) == first["candidates"]
        assert _rows(res.aspects) == first["aspects"]
        assert _rows(res.ontology_edges) == first["ontology_edges"]
        assert res.root_name == first["root_name"]
        assert res.tree_edges == first["tree_edges"]
        assert res.synset_map == first["synset_map"]


def test_release_of_a_resumed_result_does_nothing(spark, pages, first, opened, jobs_submitted):
    base = _cached_ids(spark)
    res = run_pipeline(spark, pages, CFG, work_dir=first["work_dir"])
    assert jobs_submitted(res.release) == 0
    assert opened == ["triples"]  # release did not resolve sentences
    assert not (_cached_ids(spark) - base)


def test_partial_resume_recomputes_only_missing_stages(spark, pages, first, opened, tmp_path):
    work_dir = str(tmp_path / "kg")
    shutil.copytree(first["work_dir"], work_dir)
    for stage in ("arguments", "triples"):
        shutil.rmtree(os.path.join(work_dir, "_lineage", stage))
    store = StageStore(spark, work_dir)
    before = {r["stage"]: r["checkpoint_ts"] for r in store.lineage().collect()}

    with run_pipeline(spark, pages, CFG, work_dir=work_dir) as res:
        triples = _triples(res.triples)

    after = {r["stage"]: r["checkpoint_ts"] for r in store.lineage().collect()}
    assert {s for s in after if after[s] != before.get(s)} == {"arguments", "triples"}
    assert {"sentences", "ontology_edges"} <= set(opened)
    assert not set(opened) & {"docs", "candidates", "aspects", "synsets", "meronym_scores"}
    assert triples == first["triples"]
