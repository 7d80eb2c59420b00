"""Tests of the benchmark's own machinery: the oracle comparison, the event-log
roll-up, and, through the command line in a subprocess, the traced runs of
both workloads and the refusal to run without the engine.

    python3 -m pytest kgbench -q -p no:cacheprovider
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import pytest

import expected
import pandas as pd
import run as kgbench
import tracing
import workloads
from llm_review_aggregation_spark import synth
from llm_review_aggregation_spark.config import DEFAULT_CONFIG

ROOT = kgbench.ROOT


# ---------------------------------------------------------------------------
# oracle comparison
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def want():
    pages = synth.synthesize_pages_pdf(n_groups=3, docs_per_group=12, seed=5)
    triples, _n_sentences = expected.expected_triples(pages, DEFAULT_CONFIG)
    return triples


def drop_one(triples):
    out = dict(triples)
    del out[sorted(out)[0]]
    return out


def shift_one(triples, by=1e-3):
    out = dict(triples)
    key = sorted(out)[1]
    out[key] += by
    return out


def test_oracle_covers_both_edge_kinds(want):
    preds = {p for _s, p, _o in want}
    assert preds == {"partOf", "hasAspectOpinion"}


def test_exact_match(want):
    cmp = expected.compare(dict(want), want)
    assert cmp == {"precision": 1.0, "recall": 1.0, "max_score_err": 0.0, "match": True}


def test_dropped_triple_fails_on_recall(want):
    cmp = expected.compare(dict(want), drop_one(want))
    assert not cmp["match"] and cmp["recall"] == 1.0 and cmp["precision"] < 1.0


def test_shifted_score_fails_although_sets_match(want):
    cmp = expected.compare(dict(want), shift_one(want))
    assert (cmp["precision"], cmp["recall"]) == (1.0, 1.0)
    assert not cmp["match"] and cmp["max_score_err"] == pytest.approx(1e-3)


def test_score_within_tolerance_matches(want):
    assert expected.compare(dict(want), shift_one(want, expected.SCORE_TOL / 2))["match"]


@pytest.fixture
def bench():
    b = kgbench.Bench(argparse.Namespace(workload="reviews_ckpt", seed=5, seconds=1, trace=0))
    yield b
    shutil.rmtree(b.dir)


def test_perturbed_expected_set_counts_the_run_failed(bench, want):
    bench.want = shift_one(drop_one(want))
    bench.check_call(dict(want), "first")
    assert (bench.calls, bench.failed_calls) == (1, 1)
    assert not bench.correct()


def test_matching_run_is_correct(bench, want):
    bench.want = want
    bench.check_call(dict(want), "first")
    assert (bench.calls, bench.failed_calls) == (1, 0)
    assert bench.checks == {"planted_meronymy_pr": True}
    assert bench.correct()


def test_planted_meronymy_pr_counts_synonyms(want):
    mapped = {("display", "partOf", "cam"): 1.0, ("zoom", "partOf", "lens"): 1.0}
    p, r = expected.planted_meronymy_pr(mapped)
    assert p == 1.0 and r == pytest.approx(2 / len(synth.MERONYMS))
    p, r = expected.planted_meronymy_pr(want)
    assert p >= 0.95 and r >= 0.95


def test_benchmark_json_lists_what_the_runs_report():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(kgbench.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == kgbench.E2E_UNITS
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == tracing.LAYER_METRICS
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_timing_reports_the_supported_percentile():
    assert kgbench.timing([3.0, 1.0, 2.0]) == {"median": 2.0, "max": 3.0, "n": 3}
    t = kgbench.timing([float(i) for i in range(1, 21)])
    assert t["n"] == 20 and t["p50"] == 10.0  # ten samples lie beyond it


# ---------------------------------------------------------------------------
# the crawl corpus against the documents table's measured shape
# ---------------------------------------------------------------------------


def assert_shape(got, words_tol, share_tol):
    want = workloads.DOCUMENTS_SHAPE
    for k in ("tokens", "words_min", "words_max", "sources"):
        assert got[k] == want[k], k
    for k in ("words_q1", "words_median", "words_q3"):
        assert abs(got[k] - want[k]) <= words_tol, k
    assert abs(got["dup_doc_share"] - want["dup_doc_share"]) <= share_tol
    assert got["lang_share"].keys() == want["lang_share"].keys()
    for lang, share in want["lang_share"].items():
        assert abs(got["lang_share"][lang] - share) <= share_tol, lang


@pytest.mark.parametrize("seed", [1, 2])
def test_crawl_generator_has_the_documents_table_shape(seed):
    # as many rows as the measured table, so sampling noise is comparable
    docs = workloads.crawl_documents(seed, 20, 250)
    assert_shape(workloads.documents_shape(docs), words_tol=3, share_tol=0.02)


def test_documents_table_has_the_recorded_shape():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    path = os.path.join(sf_dir or "", "documents.parquet")
    if not sf_dir or not os.path.exists(path):
        pytest.skip("set SPARK_GRAFT_SF_DIR to the sf0.1 data directory")
    docs = pd.read_parquet(path)
    assert len(docs) == 5000
    assert_shape(workloads.documents_shape(docs), words_tol=0, share_tol=1e-3)


# ---------------------------------------------------------------------------
# event-log roll-up
# ---------------------------------------------------------------------------


def job_start(jid, group, at, stages):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": jid,
        "Submission Time": int(at * 1000),
        "Stage IDs": stages,
        "Properties": {"spark.jobGroup.id": group},
    }


def job_end(jid, at):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": int(at * 1000)}


def stage_done(sid, rdds):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {"Stage ID": sid, "RDD Info": [{"RDD ID": r} for r in rdds]},
    }


def task_end(sid, run_ms, at, py_ms=0, to_py=0, shuffle=0, written=0):
    accums = [
        {"Name": "time to run Python workers", "Update": str(py_ms)},
        {"Name": "data sent to Python workers", "Update": str(to_py)},
    ]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Task Info": {"Launch Time": int(at * 1000), "Accumulables": accums},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 500_000,
            "JVM GC Time": 1,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": written},
        },
    }


LOG_EVENTS = [
    # "tokenize" span [100, 104]: job 0 builds the cache (rdd 7)
    job_start(0, "tokenize", 100.5, [0]),
    stage_done(0, [7, 8]),
    task_end(0, 1000, 100.6, py_ms=800, to_py=2_000_000),
    task_end(0, 3000, 100.6, py_ms=2500, to_py=1_000_000, shuffle=500_000),
    job_end(0, 102.0),
    # "relations" span [104, 110]: two overlapping jobs, then driver work;
    # job 2 lists stage 1 again but skips it
    job_start(1, "relations", 104.0, [1]),
    stage_done(1, [7, 9]),
    task_end(1, 200, 104.1),
    task_end(1, 200, 104.1),
    task_end(1, 600, 104.3),
    job_start(2, "relations", 105.0, [1, 2]),
    stage_done(2, [10]),
    task_end(2, 100, 105.2),
    job_end(1, 106.0),
    job_end(2, 107.0),
    # "pipeline" itself: the union, after the layer spans
    job_start(3, "pipeline", 110.5, [3]),
    stage_done(3, [11]),
    task_end(3, 50, 110.6),
    job_end(3, 111.0),
    # a job of another group outside the window
    job_start(4, "untraced", 200.0, [4]),
    stage_done(4, [7]),
    task_end(4, 999, 200.1, written=10),
    job_end(4, 201.0),
]


def write_log(tmp_path, events):
    path = tmp_path / "events"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    return tracing.EventLog(str(path))


@pytest.fixture
def log(tmp_path):
    return write_log(tmp_path, LOG_EVENTS)


@pytest.fixture
def tracer():
    t = tracing.Tracer(sc=None)
    t.spans = [
        tracing.Span("pipeline", 100.0, 112.0),
        tracing.Span("tokenize", 100.0, 104.0),
        tracing.Span("relations", 104.0, 110.0),
    ]
    return t


def layer_metrics_of(log, tracer):
    return tracing.layer_metrics(log, tracer, {"tokenize": 5, "relations": 2})


def test_stage_runs_in_the_first_job_that_lists_it(log):
    assert log.stage_job == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}
    assert [t.stage for t in log.tasks_of({2})] == [2]


def test_rollup_sums_task_metrics(log):
    r = tracing.rollup(log, {0})
    assert r["exec_run_s"] == 4.0 and r["py_run_s"] == 3.3
    assert r["exec_cpu_s"] == 2.0 and r["gc_s"] == 0.002
    assert r["to_py_mb"] == 3.0 and r["shuffle_write_mb"] == 0.5
    assert r["tasks"] == 2 and r["task_max_over_median"] == 1.5


def test_straggler_ratio_uses_the_heaviest_stage(log):
    # stage 1 (1000 ms over 3 tasks) outweighs stage 2 (100 ms)
    assert tracing.rollup(log, {1, 2})["task_max_over_median"] == 3.0


def test_job_busy_merges_overlapping_jobs(log):
    assert log.job_busy_s({1, 2}, 104.0, 110.0) == pytest.approx(3.0)
    assert log.job_busy_s({1, 2}, 105.5, 106.5) == pytest.approx(1.0)


def test_layer_metrics_own_every_job_of_the_window(log, tracer):
    m, owned, window = layer_metrics_of(log, tracer)
    assert owned == window == {0, 1, 2, 3}
    assert m["tokenize.rows_out"] == 5 and m["tokenize.wall_s"] == 4.0
    assert m["relations.exec_run_s"] == 1.1
    assert m["relations.driver_s"] == pytest.approx(3.0)
    assert m["pipeline.exec_run_s"] == 0.05
    assert m["pipeline.self_s"] == pytest.approx(2.0)
    assert log.stages_of({0, 1, 2}) == {0, 1, 2}
    passes = [s for s in log.stages_of({0, 1, 2}) if log.stage_rdds[s] & {7}]
    assert sorted(passes) == [0, 1]


def test_span_exec_equals_the_task_total_of_the_window(log, tracer):
    m, _owned, _window = layer_metrics_of(log, tracer)
    spans, total = tracing.exec_run_totals(log, tracer, m)
    assert spans == pytest.approx(5.15) and total == pytest.approx(5.15)


def test_task_of_a_stage_in_no_job_breaks_the_span_total(tmp_path, tracer):
    # stage 5 ran inside the window but no job lists it: the spans miss it,
    # and so does every job-based roll-up of the window
    log = write_log(tmp_path, LOG_EVENTS + [stage_done(5, [12]), task_end(5, 700, 108.0)])
    m, owned, window = layer_metrics_of(log, tracer)
    assert owned == window
    spans, total = tracing.exec_run_totals(log, tracer, m)
    assert spans == pytest.approx(5.15) and total == pytest.approx(5.85)
    assert abs(spans - total) > 1e-6


# ---------------------------------------------------------------------------
# the command line, in a subprocess (each starts its own JVM)
# ---------------------------------------------------------------------------


def run_cli(workload, seed, cwd=ROOT, trace=1):
    proc = subprocess.run(
        [sys.executable, "kgbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def traced_result(workload, seed):
    proc = run_cli(workload, seed)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    (where,) = [ln.split(" ", 2)[2] for ln in lines if ln.startswith("kgbench: wrote ")]
    with open(os.path.join(ROOT, where, "result.json")) as f:
        detail = json.load(f)
    shutil.rmtree(os.path.join(ROOT, where))
    return result, detail


def test_traced_crawl_checks_and_bypasses_lineage():
    result, detail = traced_result("crawl", 21)
    assert result["correct"] and result["failed"] == 0, detail["checks"]
    assert set(detail["checks"]) >= {
        "traced_equals_untraced", "rows_out_match_untraced", "spans_own_every_traced_job",
        "span_exec_equals_log_total", "ephemeral_writes_nothing",
    }
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(m) == set(tracing.LAYER_METRICS)
    assert all(v == 0 for k, v in m.items() if k.startswith("lineage."))
    assert m["pipeline.sentence_passes"] > 0 and m["tokenize.rows_out"] > 0


def test_traced_reviews_resume_skips_every_stage():
    result, detail = traced_result("reviews_ckpt", 21)
    assert result["correct"] and result["failed"] == 0, detail["checks"]
    assert detail["checks"]["resume_skips_every_stage"]
    assert detail["checks"]["traced_resume_equals_run"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["lineage.resume_stages_skipped"] == len(tracing.STAGES)
    assert m["lineage.ckpt_files"] > 0 and m["lineage.write_s"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "kgbench"), tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = run_cli("crawl", 1, cwd=tmp_path, trace=0)
    assert proc.returncode != 0 and proc.stdout == ""
