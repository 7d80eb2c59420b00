"""Pages -> triples benchmark of the KG engine.

    python3 kgbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints the run's provenance and one line per
metric, then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.
kgbench/README.md describes the workloads and every metric.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "kgbench", "out")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import pandas  # noqa: E402
import pyarrow  # noqa: E402
import pyspark  # noqa: E402
from expected import compare, expected_triples, planted_meronymy_pr  # noqa: E402
from tracing import (  # noqa: E402
    LAYER_UNITS,
    STAGES,
    EventLog,
    Tracer,
    clear_job_group,
    exec_run_totals,
    layer_metrics,
    rollup,
    traced_pipeline,
)
from workloads import WORKLOADS  # noqa: E402

from llm_review_aggregation_spark.plans.lineage import StageStore  # noqa: E402
from llm_review_aggregation_spark.plans.pipeline import run_pipeline  # noqa: E402
from llm_review_aggregation_spark.session import get_spark  # noqa: E402

PLANTED_MIN_PR = 0.95

E2E_UNITS = {
    "run_s": "s",
    "docs_per_s": "1/s",
    "triples_per_s": "1/s",
    "resume_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "triple_precision": "ratio",
    "triple_recall": "ratio",
}


# ---------------------------------------------------------------------------
# process tree: resident memory and clean shutdown
# ---------------------------------------------------------------------------


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we walked
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver, the JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    procs = descendants(os.getpid())
    gateway = pyspark.SparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the gateway server exits on end of input
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait(timeout=10)
    deadline = time.time() + 15
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def timing(xs: list[float]) -> dict:
    """Median, the highest percentile with at least ten samples beyond it
    (the maximum when there are fewer than 11 samples), and the count."""
    s = sorted(xs)
    n = len(s)
    if n >= 11:
        k = n - 11
        label = f"p{100 * (k + 1) // n}"
    else:
        k, label = n - 1, "max"
    return {"median": statistics.median(s), label: s[k], "n": n}


def triple_map(rows) -> dict:
    return {(r["subj"], r["pred"], r["obj"]): float(r["score"]) for r in rows}


def source_sha256() -> str:
    """Identity of the engine source under test (works without git)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "llm_review_aggregation_spark")
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            with open(os.path.join(d, name), "rb") as f:
                h.update(os.path.relpath(os.path.join(d, name), pkg).encode() + f.read())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def cached_bytes(spark, rdd_ids: set[int]) -> int:
    return sum(
        i.memSize() + i.diskSize()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if i.id() in rdd_ids
    )


# ---------------------------------------------------------------------------
# the benchmark
# ---------------------------------------------------------------------------


class Bench:
    def __init__(self, args):

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.cpus = len(os.sched_getaffinity(0))
        self.dir = os.path.join(OUT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
        self.tmp_dir = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp_dir)
        self.eventlog_dir = os.path.join(self.dir, "eventlog")
        self.checks: dict[str, bool] = {}
        self.calls = 0
        self.failed_calls = 0
        self.precision: list[float] = []
        self.recall: list[float] = []
        self.n_work_dirs = 0

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = self.checks.get(name, True) and bool(ok)

    def correct(self) -> bool:
        return self.calls > 0 and self.failed_calls == 0 and all(self.checks.values())

    # -- set-up ----------------------------------------------------------------
    def start(self):

        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir=" + self.tmp_dir,
        }
        if self.args.trace:
            os.makedirs(self.eventlog_dir)
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        self.t0 = time.perf_counter()
        spark = get_spark(app_name="kgbench", cpus=self.cpus, shuffle_partitions=self.cpus, extra=conf)
        spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - self.t0
        return spark

    def warm(self, spark) -> None:
        """One cold, ephemeral pipeline call on a tiny corpus of the
        workload's own shape, so that Python workers exist and codegen has
        run before anything is timed. ``setup_s`` is the session start plus
        this call."""

        spark.sparkContext.setJobGroup("setup", "setup")
        self.call(spark, self.wl.tiny_pages(spark, self.args.seed, self.dir), None)
        clear_job_group(spark.sparkContext)
        self.setup_s = time.perf_counter() - self.t0

    def prepare(self, spark) -> None:
        """The workload's pages and, outside any timing, the oracle's
        expected triples for exactly those pages."""

        self.pages, pages_pdf = self.wl.pages(spark, self.args.seed, self.dir)
        self.want, self.n_sentences = expected_triples(pages_pdf, self.wl.cfg)
        self.n_pages = len(pages_pdf)
        self.n_triples = len(self.want)

    def work_dir(self) -> str | None:
        if not self.wl.checkpointed:
            return None
        self.n_work_dirs += 1
        return os.path.join(self.dir, f"work{self.n_work_dirs}")

    # -- one pipeline call ---------------------------------------------------------
    def call(self, spark, pages, work_dir, counts: dict | None = None) -> tuple[float, dict]:
        """run_pipeline until its triples are materialized on the driver;
        returns (seconds, triples). With ``counts``, also records the
        result's stage row counts and its sentence cache, untimed."""

        before = persistent_rdds(spark) if counts is not None else set()
        t0 = time.perf_counter()
        with run_pipeline(spark, pages, self.wl.cfg, work_dir=work_dir) as res:
            rows = res.triples.collect()
            seconds = time.perf_counter() - t0
            if counts is not None:
                # a job group of their own keeps these out of the call's jobs
                spark.sparkContext.setJobGroup("counts", "counts")
                counts["sentence_rdds"] = persistent_rdds(spark) - before
                counts["sentences_cache_b"] = cached_bytes(spark, counts["sentence_rdds"])
                counts["rows"] = {
                    "tokenize": res.sentences.count(),
                    "mining": res.candidates.count(),
                    "aspects": res.aspects.count(),
                    "concepts": res.synsets.count(),
                    "relations": res.ontology_edges.count(),
                    "argumentation": res.arguments.count(),
                }
        return seconds, triple_map(rows)

    def check_call(self, got: dict, what: str) -> None:

        cmp = compare(got, self.want)
        self.calls += 1
        self.precision.append(cmp["precision"])
        self.recall.append(cmp["recall"])
        if not cmp["match"]:
            self.failed_calls += 1
            print(f"kgbench: {what} call does not match the oracle: {cmp}", file=sys.stderr)
        if self.wl.planted:

            p, r = planted_meronymy_pr(got)
            self.check("planted_meronymy_pr", p >= PLANTED_MIN_PR and r >= PLANTED_MIN_PR)

    # -- --trace 0 -------------------------------------------------------------------
    def timed(self, spark) -> dict:
        """Timed calls for --seconds: at least one, and another only while
        the last one's duration still fits. On a checkpointed workload each
        call gets a fresh work_dir and is resumed once from it; the
        work_dir is removed afterwards."""
        base = persistent_rdds(spark)
        runs, resumes = [], []
        t0 = time.perf_counter()
        last = 0.0
        with RssSampler() as rss:
            while not runs or time.perf_counter() - t0 + last <= self.args.seconds:
                start = time.perf_counter()
                wd = self.work_dir()
                run_s, got = self.call(spark, self.pages, wd)
                self.check_call(got, "first")
                if wd:
                    resume_s, again = self.call(spark, self.pages, wd)
                    self.check_call(again, "resume")
                    self.check("resume_equals_run", again == got)
                    shutil.rmtree(wd)
                else:
                    # nothing to resume without a work_dir: a second call
                    # would recompute everything, as the first did
                    resume_s = run_s
                self.check("no_persistent_rdd_growth", persistent_rdds(spark) <= base)
                runs.append(run_s)
                resumes.append(resume_s)
                last = time.perf_counter() - start
        self.timings = {"run_s": timing(runs), "resume_s": timing(resumes)}
        run_s = statistics.median(runs)
        return {
            "run_s": run_s,
            "docs_per_s": self.n_pages / run_s,
            "triples_per_s": self.n_triples / run_s,
            "resume_s": statistics.median(resumes),
            "setup_s": self.setup_s,
            "peak_rss_mb": rss.peak / 1e6,
            "triple_precision": min(self.precision),
            "triple_recall": min(self.recall),
        }

    # -- --trace 1 -------------------------------------------------------------------
    def traced(self, spark) -> dict:
        """An untraced call, then the traced replay, on the same pages; on a
        checkpointed workload the traced replay is resumed once from its
        work_dir."""

        sc = spark.sparkContext
        wd = self.work_dir()
        counts: dict = {}
        sc.setJobGroup("untraced", "untraced")
        untraced_s, got = self.call(spark, self.pages, wd, counts)
        self.check_call(got, "untraced")
        clear_job_group(sc)

        tracer = Tracer(sc)
        twd = self.work_dir()
        t0 = time.perf_counter()
        run = traced_pipeline(spark, self.pages, self.wl.cfg, twd, tracer)
        traced_s = time.perf_counter() - t0
        traced = triple_map(run.triples)
        self.check_call(traced, "traced")
        self.check("traced_equals_untraced", traced == got)
        self.check("rows_out_match_untraced", run.rows_out == counts["rows"])
        resume = None
        if twd:
            resume = traced_pipeline(spark, self.pages, self.wl.cfg, twd, Tracer(sc, prefix="resume."))
            self.check("traced_resume_equals_run", triple_map(resume.triples) == traced)
            self.check_call(triple_map(resume.triples), "traced resume")
        return {
            "tracer": tracer,
            "run": run,
            "resume": resume,
            "traced_s": traced_s,
            "untraced_s": untraced_s,
            "counts": counts,
            "work_dir": wd,
        }

    def lineage_metrics(self, spark, t: dict) -> dict:

        m = dict.fromkeys(
            ("write_s", "ckpt_mb", "ckpt_files", "max_partition_skew", "resume_stages_skipped"), 0.0
        )
        if t["work_dir"] is not None:

            rows = StageStore(spark, t["work_dir"]).metrics().collect()
            files = [os.path.join(d, f) for d, _, fs in os.walk(t["work_dir"]) for f in fs]
            skipped = len(STAGES) - len(t["resume"].computed)
            self.check("resume_skips_every_stage", skipped == len(STAGES))
            m = {
                "write_s": sum(r["duration_sec"] for r in rows),
                "ckpt_mb": sum(os.path.getsize(f) for f in files) / 1e6,
                "ckpt_files": len(files),
                "max_partition_skew": max(r["partition_skew"] for r in rows),
                "resume_stages_skipped": skipped,
            }
        return {f"lineage.{k}": v for k, v in m.items()}

    def per_layer(self, t: dict) -> dict:
        """Roll the event log up (after the session stopped and closed it)."""

        log = EventLog.from_dir(self.eventlog_dir)
        m, owned, window = layer_metrics(log, t["tracer"], t["run"].rows_out)
        self.check("spans_own_every_traced_job", owned == window)
        span_exec, log_exec = exec_run_totals(log, t["tracer"], m)
        self.check("span_exec_equals_log_total", abs(span_exec - log_exec) < 1e-6)

        untraced = log.job_ids({"untraced"})
        u = rollup(log, untraced)
        m["pipeline.spark_jobs"] = len(untraced)
        m["pipeline.slot_busy_share"] = u["exec_run_s"] / (t["untraced_s"] * self.cpus)
        m["pipeline.py_share"] = u["py_run_s"] / u["exec_run_s"]
        m["pipeline.py_bytes_per_sentence"] = (u["to_py_mb"] + u["from_py_mb"]) * 1e6 / self.n_sentences
        m["pipeline.sentence_passes"] = sum(
            1 for sid in log.stages_of(untraced) if log.stage_rdds[sid] & t["counts"]["sentence_rdds"]
        )
        m["pipeline.sentences_cache_mb"] = t["counts"]["sentences_cache_b"] / 1e6
        m["session.start_s"] = self.session_start_s
        m["session.cold_call_s"] = self.setup_s - self.session_start_s
        m["session.py_worker_start_s"] = (
            sum(x.py_start_ms for x in log.tasks_of(log.job_ids({"setup"}))) / 1e3
        )
        m["trace_overhead_s"] = t["traced_s"] - t["untraced_s"]
        if not self.wl.checkpointed:
            written = sum(x.output_b for x in log.tasks_of(untraced))
            self.check("ephemeral_writes_nothing", written == 0)
        m.update(t["lineage"])
        return m


def report(bench: Bench, prov: dict, metrics: dict, units: dict) -> None:
    print("kgbench " + " ".join(f"{k}={v}" for k, v in prov.items()))
    timings = getattr(bench, "timings", {})
    for name, value in metrics.items():
        extra = ""
        if name in timings:
            extra = "  (" + ", ".join(f"{k} {v:.6g}" for k, v in timings[name].items()) + ")"
        print(f"  {name:<38} {value:>14.6g} {units[name]}{extra}")
    for name, ok in bench.checks.items():
        print(f"  check {name}: {'ok' if ok else 'FAILED'}")


def provenance(bench: Bench, spark) -> dict:

    return {
        "workload": bench.args.workload,
        "seed": bench.args.seed,
        "host_cpus": bench.cpus,
        "spark_master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": git_commit(),
        "source_sha256": source_sha256(),
        "pages": bench.n_pages,
        "sentences": bench.n_sentences,
        "triples": bench.n_triples,
    }


def run(args) -> int:

    bench = Bench(args)
    # temporary files of this process and its children stay in the run's directory
    tempfile.tempdir = os.environ["TMPDIR"] = bench.tmp_dir
    marks = [("start", time.perf_counter())]
    spark = bench.start()
    try:
        bench.warm(spark)
        marks.append(("setup", time.perf_counter()))
        bench.prepare(spark)
        marks.append(("prepare", time.perf_counter()))
        if args.trace:
            traced = bench.traced(spark)
            traced["lineage"] = bench.lineage_metrics(spark, traced)
        else:
            metrics = bench.timed(spark)
        marks.append(("measure", time.perf_counter()))
        prov = provenance(bench, spark)
    finally:
        stop_spark(spark)
    marks.append(("stop", time.perf_counter()))
    if args.trace:
        metrics, units = bench.per_layer(traced), LAYER_UNITS
    else:
        units = E2E_UNITS
    result = {
        "correct": bench.correct(),
        "attempted": bench.calls,
        "failed": bench.failed_calls,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    detail = {
        "provenance": prov,
        "checks": bench.checks,
        "failed_share": bench.failed_calls / bench.calls,
        "timings": getattr(bench, "timings", {}),
        "phases_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
        **result,
    }
    with open(os.path.join(bench.dir, "result.json"), "w") as f:
        json.dump(detail, f, indent=1)
    report(bench, prov, metrics, units)
    print(f"  failed_share {bench.failed_calls}/{bench.calls}")
    print(f"kgbench: wrote {os.path.relpath(bench.dir, ROOT)}")
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Pages -> triples benchmark of the KG engine.")
    ap.add_argument("--workload", required=True, choices=["crawl", "reviews_ckpt"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # the Python workers import the engine too, and inherit PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # keep spark-submit's launcher JVM from writing perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p
    )
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
