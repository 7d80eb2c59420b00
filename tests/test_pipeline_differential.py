"""Differential test: Spark dataflow vs the independent loop-based oracle
(llm_review_aggregation_spark/oracle/pipeline_oracle.py) on the deterministic synthetic corpus,
stage by stage, plus the P/R gate against the planted ground truth."""

import pandas as pd
import pytest

from llm_review_aggregation_spark import synth
from llm_review_aggregation_spark.config import PipelineConfig
from llm_review_aggregation_spark.plans.pipeline import run_pipeline

from llm_review_aggregation_spark.oracle import pipeline_oracle as oracle

CFG = PipelineConfig(root_name="camera")
N_GROUPS, DOCS = 4, 18


@pytest.fixture(scope="module")
def spark_result(spark):
    pages = synth.synthesize_pages(spark, n_groups=N_GROUPS, docs_per_group=DOCS)
    return run_pipeline(spark, pages, CFG)


@pytest.fixture(scope="module")
def oracle_result():
    return oracle.run(synth.synthesize_pages_pdf(n_groups=N_GROUPS, docs_per_group=DOCS), CFG)


def test_docs_byte_identical(spark_result, oracle_result):
    got = {r["url"]: r["text"] for r in spark_result.docs.collect()}
    want = {d["url"]: d["text"] for d in oracle_result["docs"]}
    assert got == want


def test_sentences_identical(spark_result, oracle_result):
    got = {(r["url"], r["sent_id"]): r["sentence"] for r in spark_result.sentences.collect()}
    want = {(s["url"], s["sent_id"]): s["sentence"] for s in oracle_result["sentences"]}
    assert got == want


def test_candidates_identical(spark_result, oracle_result):
    got = {(r["term"], r["count"]) for r in spark_result.candidates.collect()}
    want = set(oracle_result["candidates"].items())
    assert got == want


def test_aspects_identical(spark_result, oracle_result):
    got = {r["term"]: (r["count"], round(r["prob"], 9)) for r in spark_result.aspects.collect()}
    want = {t: (c, round(p, 9)) for t, (c, p) in oracle_result["aspects"].items()}
    assert got == want


def test_synsets_identical(spark_result, oracle_result):
    got = {}
    for r in spark_result.synsets.collect():
        got.setdefault(r["concept"], set()).add(r["member"])
    want = {c: set(ms) for c, ms in oracle_result["synsets"].items()}
    assert got == want


def test_ontology_edges_identical(spark_result, oracle_result):
    got = {(r["subj"], r["obj"]) for r in spark_result.ontology_edges.collect()}
    want = set(oracle_result["edges"].items())
    assert got == want


def test_triple_precision_recall_vs_planted(spark_result):
    canon = {s: c for c, ss in synth.SYNONYMS.items() for s in ss}
    planted = set(synth.MERONYMS.items())
    got = {
        (canon.get(r["subj"], r["subj"]), canon.get(r["obj"], r["obj"]))
        for r in spark_result.ontology_edges.collect()
    }
    tp_ = len(got & planted)
    precision = tp_ / max(len(got), 1)
    recall = tp_ / len(planted)
    assert precision >= 0.95 and recall >= 0.95, (sorted(got), sorted(planted))


def test_kg_triples_pr_scale_guard(spark, monkeypatch):
    """The P/R query replays the corpus through the driver-side oracle and
    must refuse beyond gate scale instead of silently toPandas-ing it."""
    import __spark_entry__ as entrymod

    monkeypatch.setattr(
        entrymod.synth, "pages_from_documents", lambda s, d: s.range(10_001)
    )
    with pytest.raises(ValueError, match="gate-scale"):
        entrymod._q_kg_triples_pr(spark, "ignored")


def test_arguments_match_oracle(spark_result, oracle_result):
    got = (
        spark_result.arguments.toPandas()
        .sort_values(["group_id", "aspect"])
        .reset_index(drop=True)
    )
    want = oracle_result["arguments"].sort_values(["group_id", "aspect"]).reset_index(drop=True)
    assert len(got) == len(want), (len(got), len(want))
    for col in ["group_id", "aspect", "polarity"]:
        assert got[col].tolist() == want[col].tolist(), col
    assert (got["strength"] - want["strength"]).abs().max() < 1e-9
    for col in [
        "strongest_support_phrase",
        "strongest_attack_phrase",
        "strongest_support_feature",
        "strongest_attack_feature",
    ]:
        g = got[col].where(pd.notna(got[col]), None).tolist()
        w = want[col].where(pd.notna(want[col]), None).tolist()
        assert g == w, (col, [(i, a, b) for i, (a, b) in enumerate(zip(g, w)) if a != b][:5])


def _none_safe(df):
    return (
        df.assign(_g=df["group_id"].map(repr))
        .sort_values(["_g", "aspect"])
        .drop(columns="_g")
        .reset_index(drop=True)
    )


def test_null_url_arguments_match_oracle(spark):
    """A null url gives a null group_id and a url without a scheme gives "";
    both are groups of their own, in the engine and in the oracle alike.
    A kernel that drops NaN group keys loses the null group's rows here."""
    pages_pdf = synth.synthesize_pages_pdf(n_groups=N_GROUPS, docs_per_group=DOCS)
    pages_pdf.loc[0, "url"] = None
    pages_pdf.loc[DOCS, "url"] = "no-scheme-url"
    got = _none_safe(run_pipeline(spark, spark.createDataFrame(pages_pdf), CFG).arguments.toPandas())
    want = _none_safe(oracle.run(pages_pdf, CFG)["arguments"])
    assert None in set(got["group_id"]) and "" in set(got["group_id"])
    assert len(got) == len(want), (len(got), len(want))
    for col in ["group_id", "aspect", "polarity"]:
        assert got[col].tolist() == want[col].tolist(), col
    assert (got["strength"] - want["strength"]).abs().max() < 1e-9
    for col in [
        "strongest_support_phrase",
        "strongest_attack_phrase",
        "strongest_support_feature",
        "strongest_attack_feature",
    ]:
        g = got[col].where(pd.notna(got[col]), None).tolist()
        w = want[col].where(pd.notna(want[col]), None).tolist()
        assert g == w, col
