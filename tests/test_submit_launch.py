"""spark-submit --py-files launch path (scripts/submit.sh).

The north rule requires the job to launch "via spark-submit --py-files on a
multi-executor cluster" — this smoke test exercises exactly that surface: a
fresh JVM, the engine shipped as a zip through --py-files (NOT importable
from the cwd inside executors), the CLI's argument parsing, and the triples
parquet sink. Master local[4] stands in for the cluster; the zip/py-files
mechanics are identical under YARN/k8s.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the table stages run_pipeline checkpoints (phrase_vocab and concepts are
# JSON artifacts, with no lineage)
CHECKPOINTED_STAGES = (
    "docs", "sentences", "candidates", "aspects", "synsets",
    "meronym_scores", "ontology_edges", "arguments", "triples",
)


@pytest.mark.skipif(shutil.which("spark-submit") is None, reason="spark-submit not on PATH")
def test_submit_sh_end_to_end(tmp_path):
    out_dir = str(tmp_path / "triples")
    wd = str(tmp_path / "wd")

    def launch() -> dict:
        proc = subprocess.run(
            [
                os.path.join(REPO, "scripts", "submit.sh"),
                "--master",
                "local[4]",
                "--",
                "--synthetic",
                "2",
                "--docs-per-group",
                "6",
                "--work-dir",
                wd,
                "--out",
                out_dir,
            ],
            capture_output=True,
            text=True,
            timeout=420,
            cwd=REPO,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        # the CLI prints one JSON result line last
        return json.loads(proc.stdout.strip().splitlines()[-1])

    report = launch()
    assert report["n_triples"] > 0
    # a fresh work_dir: every checkpointed stage was computed by this run
    assert report["computed"] == sorted(CHECKPOINTED_STAGES)
    assert report["root"] == "camera"
    # per-stage metrics from the lineage rows ride along when --work-dir set
    stages = {s["stage"]: s for s in report["stages"]}
    assert "aspects" in stages and "docs" in stages
    assert all(s["duration_sec"] > 0 for s in stages.values())
    # triples landed partitioned by predicate (pred=... directories) with
    # the contract schema
    part_dirs = [f for f in os.listdir(out_dir) if f.startswith("pred=")]
    assert "pred=partOf" in part_dirs
    import duckdb

    rows = duckdb.sql(
        f"SELECT subj, pred, obj, score FROM read_parquet('{out_dir}/*/*.parquet', hive_partitioning=true)"
    ).fetchall()
    assert len(rows) == report["n_triples"]

    # a second launch on the same work_dir resumes every stage
    again = launch()
    assert again["computed"] == []
    assert again["n_triples"] == report["n_triples"]
