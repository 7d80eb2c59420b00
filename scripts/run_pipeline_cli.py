"""spark-submit entry point for the KG-construction pipeline.

Launch (see scripts/submit.sh, which builds the --py-files zip):

    spark-submit --master local[32] --py-files /tmp/llmra_spark.zip \
        scripts/run_pipeline_cli.py \
        --pages-parquet /data/pages --work-dir /data/run1 --out /data/triples

On a cluster, --master/--num-executors come from spark-submit as usual; the
pipeline itself is parallelism-agnostic (no local[] assumptions). Input is
either an existing pages table (--pages-parquet) or a corpus derived from a
documents table (--from-documents SF_DIR [--replicate R]).

Resumable: re-running with the same --work-dir skips completed stages via
their lineage rows (plans/lineage.py); the report's `computed` lists the
stages this run wrote, so every other stage was resumed.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages-parquet", help="path to a pages(url,warc_ts,html,text,lang) table")
    src.add_argument("--from-documents", help="SF dir containing documents.parquet to wrap as pages")
    src.add_argument("--synthetic", type=int, metavar="N_GROUPS", help="seeded synthetic corpus")
    ap.add_argument("--replicate", type=int, default=1, help="corpus replication for --from-documents")
    ap.add_argument("--docs-per-group", type=int, default=40, help="for --synthetic")
    ap.add_argument("--work-dir", help="checkpoint/lineage dir (enables resume)")
    ap.add_argument("--out", help="write triples parquet here")
    ap.add_argument("--scorer", default=None, help="override scorer backend (lexicon|bert|llm)")
    ap.add_argument(
        "--table-format", default=None, choices=["parquet", "iceberg"],
        help="checkpoint table format (iceberg needs a catalog; falls back to parquet)",
    )
    ap.add_argument(
        "--tokenizer", default=None, choices=["simple", "nltk"],
        help="tokenizer backend (nltk needs nltk + model data on all nodes)",
    )
    ap.add_argument(
        "--bucket-triples", type=int, default=None, metavar="N",
        help="write the triples checkpoint hash-bucketed on subj into N "
        "buckets (needs --work-dir): downstream subj-keyed joins/rollups "
        "plan without an Exchange",
    )
    args = ap.parse_args()
    if args.bucket_triples and not args.work_dir:
        ap.error("--bucket-triples requires --work-dir")

    # Imports resolved from the --py-files zip on executors and driver alike.
    from llm_review_aggregation_spark import synth
    from llm_review_aggregation_spark.config import DEFAULT_CONFIG
    from llm_review_aggregation_spark.plans.pipeline import run_pipeline

    spark = SparkSession.builder.appName("kg-construct").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.pages_parquet:
        pages = spark.read.parquet(args.pages_parquet)
    elif args.from_documents:
        pages = synth.pages_from_documents(spark, args.from_documents, replicate=args.replicate)
    else:
        pages = synth.synthesize_pages(spark, n_groups=args.synthetic, docs_per_group=args.docs_per_group)

    try:
        import __spark_entry__ as entrymod

        cfg = entrymod._KG_CFG if args.from_documents else DEFAULT_CONFIG
    except ImportError:
        cfg = DEFAULT_CONFIG
    overrides = {}
    if args.scorer:
        overrides["scorer"] = args.scorer
    if args.table_format:
        overrides["table_format"] = args.table_format
    if overrides:
        import dataclasses

        cfg = dataclasses.replace(cfg, **overrides)
    if args.tokenizer:
        from llm_review_aggregation_spark import textproc as tp

        tp.set_tokenizer_backend(args.tokenizer)

    started = time.time()  # the clock lineage checkpoint_ts uses
    t0 = time.monotonic()
    result = run_pipeline(
        spark, pages, cfg, work_dir=args.work_dir, bucket_triples=args.bucket_triples
    )
    if args.out:
        # graph tables are partitioned by predicate: queries overwhelmingly
        # filter on edge type first, and partition pruning then skips whole
        # predicates at the scan (the Iceberg layout the north rule names
        # has the same spec — partition columns, not directories)
        result.triples.write.mode("overwrite").partitionBy("pred").parquet(args.out)
        n_triples = spark.read.parquet(args.out).count()
    else:
        n_triples = result.triples.count()
    elapsed = time.monotonic() - t0
    result.release()  # drop the run-scoped sentences cache (session may outlive the run)
    report = {
        "n_triples": n_triples,
        "elapsed_sec": round(elapsed, 3),
        "triples_per_sec": round(n_triples / elapsed, 3),
        "root": result.root_name,
        "work_dir": args.work_dir,
    }
    if args.work_dir:
        # per-stage run metrics from the checkpoint lineage: wall time,
        # throughput, partition skew (StageStore.metrics) — the numbers an
        # operator reads off a 1000-executor run to find the stage to salt
        from llm_review_aggregation_spark.plans.lineage import StageStore, skew_advice

        store = StageStore(spark, args.work_dir, table_format=cfg.table_format)
        metrics = store.metrics()
        report["stages"] = [row.asDict() for row in metrics.orderBy("stage").collect()]
        # stages this run wrote; every other stage was resumed from its checkpoint
        computed = store.lineage().filter(F.col("checkpoint_ts") >= started).select("stage")
        report["computed"] = sorted(r["stage"] for r in computed.distinct().collect())
        # skew metric -> advice: name the stage to rewrite by hand before the
        # next scale-up (operators/skew.salted_agg is the remediation entry point)
        advice = skew_advice(metrics)
        if advice:
            report["skew_advice"] = advice
            for a in advice:
                print(f"WARNING: stage {a['stage']}: {a['advice']}", file=sys.stderr)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
