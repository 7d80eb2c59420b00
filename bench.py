"""Benchmark harness for the N -> 4N scaling gate and the sf headline.

Times the headline queries from ``__spark_entry__.queries()`` at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may run on),
forcing full execution through the ``noop`` sink so Catalyst cannot prune the
measured work away. The headline is the engine's own queries; the TPC-H-style
relational queries stay in ``queries()`` for the oracle check only.

Also measures the BASELINE.json north-rule metrics:

- ``triples_per_sec`` — flagship KG pipeline (pages -> triples) end-to-end
  wall time over the sf documents corpus.
- ``scaling`` — the same flagship job on the corpus replicated
  ``REPLICATE`` times at local[N] and local[4N] (N = 1), each leg in its own
  process, over ``PAIRS`` ABBA leg pairs; ``efficiency = speedup / 4``
  (>= 0.8 target). Disable with SPARK_GRAFT_SCALING=0 for quick iteration.

  Host interference is additive: a leg can run slower than the engine's
  uncontended time, never faster (same input, fresh JVM per leg, identical
  warmup). So the headline ``speedup`` is best-of-K, min(sec_N)/min(sec_4N),
  the estimator Python's timeit documents for this noise model
  (BASELINE.md "Scaling evidence"). Next to it: ``efficiency_median``
  (median per side) and ``min_pair_ratio``, the smallest sec_N/sec_4N of
  two legs run back to back, which a clean window on one side only cannot
  inflate.

The headline block runs twice in one session: the cold first pass doubles as
the warm-up and is printed as its own ``..._unwarmed`` line, the second pass
is the steady-state headline, so cross-round comparisons never conflate
Janino compile cost with engine changes.

Output, one JSON object a line: the unwarmed line; a summary line after the
headline; then per leg pair, each ``{"leg": {...}}`` sample as it completes
followed by a fresh summary line. The last line is always a complete summary:
{"metric", "value", "unit", "sf", "host_cpus", "cpus", "queries",
 "triples_per_sec", "docs_per_sec", "n_docs", "n_triples", "scaling"}.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from llm_review_aggregation_spark import synth  # noqa: E402
from llm_review_aggregation_spark.plans.pipeline import run_pipeline  # noqa: E402
from llm_review_aggregation_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "term_counts_top100",
    "bigram_counts",
    "fingerprints",
    "stopword_quality_by_source",
    "jaccard_pairs_by_source",
    "ann_topk_cosine",
    "minhash_pairs",
    "simhash_pairs",
    "kg_triples",
]

# N = 1: on the VM BASELINE.md measures, memory bandwidth caps any job's
# local scaling past ~4 busy cores, so (1, 4) is the pair below the ceiling
# ("Why the pair is (1, 4)"). The 4N leg runs at 4 * CPUS_N.
CPUS_N = 1
PAIRS = 7  # ABBA leg pairs
# The sf corpus alone is so small that fixed per-stage scheduling dominates;
# the legs replicate it this many times (240k pages at sf0.1).
REPLICATE = 48
LEG_LIMIT_S = 1200  # a wedged leg is dropped after this long


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dumps(obj: dict) -> str:
    return json.dumps(obj, separators=(",", ":"))


def _warmup(spark) -> None:
    """Pre-timing warmup for a scaling leg (the headline block warms itself:
    its cold first pass doubles as the warmup). A flagship run over a tiny
    in-memory synthetic corpus forces the one-time costs the timed run
    should not be charged for: Janino compilation of the pipeline's
    whole-stage-codegen classes, Python UDF worker spawn + pandas/pyarrow
    imports, and Arrow serializer setup (~20-26s on the first flagship call
    in a session, ~0s after; BASELINE.md "Warmup methodology")."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    pages = synth.synthesize_pages(spark, n_groups=2, docs_per_group=6)
    with run_pipeline(spark, pages, entrymod._KG_CFG) as res:
        res.triples.count()


def _flagship_secs(spark, sf_dir: str, replicate: int = 1) -> tuple[float, int, int]:
    """End-to-end pages -> triples; returns (sec, n_docs, n_triples)."""
    pages = synth.pages_from_documents(spark, sf_dir, replicate=replicate)
    n_docs = pages.count()
    t0 = time.monotonic()
    result = run_pipeline(spark, pages, entrymod._KG_CFG)
    n_triples = result.triples.count()
    sec = time.monotonic() - t0
    result.release()  # repeated flagship calls in one session must not accumulate cache
    return sec, n_docs, n_triples


def _leg_main() -> None:
    """Single scaling leg in its own process (invoked by main()).

    Process isolation per leg (a) removes warm-JVM carryover between legs
    and (b) avoids a sequential-SparkContext race in one Python process
    where late task-end accumulator updates hit the previous context's
    already-closed PythonAccumulatorV2 server — the benign-but-noisy
    "Broken pipe / EOF reached before Python server acknowledged"
    DAGScheduler traces in BENCH_r01's tail."""
    cpus = int(os.environ["SPARK_GRAFT_LEG_CPUS"])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"bench-leg-{cpus}", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark)
    sec, n_docs, n_triples = _flagship_secs(spark, sf_dir, replicate=REPLICATE)
    spark.stop()
    leg = {"cpus": cpus, "sec": round(sec, 3), "n_docs": n_docs, "n_triples": n_triples}
    print(_dumps({"leg": leg}))


def _run_leg(cpus: int) -> dict | None:
    """Run one scaling leg in a subprocess; None if it hung or died. A
    bounded timeout keeps a wedged Spark leg from stalling the whole bench —
    the progressive JSON printing only helps if control returns here."""
    env = {**os.environ, "SPARK_GRAFT_LEG_CPUS": str(cpus)}
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env, capture_output=True, text=True, timeout=LEG_LIMIT_S,
        )
    except subprocess.TimeoutExpired:
        print(f"scaling leg (cpus={cpus}) timed out after {LEG_LIMIT_S}s; skipping sample",
              file=sys.stderr, flush=True)
        return None
    for line in reversed(proc.stdout.strip().splitlines()):
        try:
            return json.loads(line)["leg"]
        except (json.JSONDecodeError, KeyError):
            continue
    print(f"scaling leg (cpus={cpus}) produced no result; stderr tail: "
          f"{proc.stderr[-2000:]}", file=sys.stderr, flush=True)
    return None


def scaling_summary(legs: list[dict]) -> dict | None:
    """The ``scaling`` block from the legs run so far, or None until both
    sides have a sample. Each leg is ``{"cpus", "sec", "pair"}``; legs of the
    same ``pair`` ran back to back."""
    cpus_n, cpus_4n = CPUS_N, 4 * CPUS_N
    secs = {c: [leg["sec"] for leg in legs if leg["cpus"] == c] for c in (cpus_n, cpus_4n)}
    if not (secs[cpus_n] and secs[cpus_4n]):
        return None
    by_pair: dict[int, dict[int, float]] = {}
    for leg in legs:
        by_pair.setdefault(leg["pair"], {})[leg["cpus"]] = leg["sec"]
    ratios = [p[cpus_n] / p[cpus_4n] for p in by_pair.values() if len(p) == 2]
    sec_n, sec_4n = min(secs[cpus_n]), min(secs[cpus_4n])
    speedup = sec_n / sec_4n
    speedup_med = statistics.median(secs[cpus_n]) / statistics.median(secs[cpus_4n])
    return {
        "cpus_n": cpus_n,
        "cpus_4n": cpus_4n,
        "replicate": REPLICATE,
        "pairs": len(ratios),
        "sec_n": round(sec_n, 3),
        "sec_4n": round(sec_4n, 3),
        "speedup": round(speedup, 3),
        "efficiency": round(speedup / 4, 3),
        "efficiency_median": round(speedup_med / 4, 3),
        "min_pair_ratio": round(min(ratios), 3) if ratios else None,
    }


def summary(sf: float, cpus: int, times: dict[str, float], sec_flag: float,
            n_docs: int, n_triples: int) -> dict:
    """The summary line after the headline; ``scaling`` is filled in as leg
    pairs complete."""
    return {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "sf": sf,
        "host_cpus": len(os.sched_getaffinity(0)),
        "cpus": cpus,
        "queries": times,
        "triples_per_sec": round(n_triples / sec_flag, 2),
        "docs_per_sec": round(n_docs / sec_flag, 2),
        "n_docs": n_docs,
        "n_triples": n_triples,
        "scaling": None,
    }


def main() -> None:
    if os.environ.get("SPARK_GRAFT_LEG_CPUS"):
        _leg_main()
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    do_scaling = os.environ.get("SPARK_GRAFT_SCALING", "1") != "0"
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    # ---- headline queries at full parallelism: TWO passes in one session.
    # Pass 1 runs cold (fresh JVM, nothing compiled) and is printed as the
    # un-warmed line; it doubles as the warmup, so pass 2 measures steady
    # state (BASELINE.md "Warmup methodology").
    spark = get_spark(app_name="bench", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    def _headline_pass() -> tuple[dict[str, float], float, int, int]:
        times: dict[str, float] = {}
        for name in HEADLINE:
            if name == "kg_triples":
                continue  # timed as the flagship below (collect-driven, noop n/a)
            t0 = time.monotonic()
            _force(qs[name](spark, sf_dir))
            times[name] = round(time.monotonic() - t0, 3)
        sec_flag, n_docs, n_triples = _flagship_secs(spark, sf_dir)
        times["kg_triples"] = round(sec_flag, 3)
        return times, sec_flag, n_docs, n_triples

    cold_times, _, _, _ = _headline_pass()
    print(_dumps({"metric": "headline_queries_total_unwarmed", "unit": "sec", "sf": sf,
                  "value": round(sum(cold_times.values()), 3), "queries": cold_times}),
          flush=True)

    times, sec_flag, n_docs, n_triples = _headline_pass()
    spark.stop()
    out = summary(sf, cpus, times, sec_flag, n_docs, n_triples)
    # A complete summary line now and after every leg pair: an external
    # timeout mid-legs still leaves a valid last line with the evidence so far.
    print(_dumps(out), flush=True)
    if not do_scaling:
        return

    # ---- scaling legs, ABBA: alternate (4N, N) / (N, 4N) per pair so a
    # linear host-throughput drift biases successive pairs in opposite
    # directions instead of always favouring one side.
    legs: list[dict] = []
    for pair in range(PAIRS):
        order = (4 * CPUS_N, CPUS_N) if pair % 2 == 0 else (CPUS_N, 4 * CPUS_N)
        for c in order:
            leg = _run_leg(c)
            if leg is None:  # timed-out / failed leg: skip the sample,
                continue     # remaining legs still complete
            leg["pair"] = pair
            legs.append(leg)
            print(_dumps({"leg": leg}), flush=True)
        out["scaling"] = scaling_summary(legs)
        print(_dumps(out), flush=True)


if __name__ == "__main__":
    main()
