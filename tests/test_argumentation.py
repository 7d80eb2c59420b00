"""E7 argumentation: the rows `extract_arguments` returns must not depend on
how the groups are laid out — one partition or many, whole groups or groups
split across Arrow batches — and a group with documents but no glossary
match must still emit every tree node."""

import pandas as pd

from llm_review_aggregation_spark import synth
from llm_review_aggregation_spark.config import PipelineConfig
from llm_review_aggregation_spark.functions import cleaning, scoring, tokenize
from llm_review_aggregation_spark.operators import argumentation

QUIET_GROUP = "quiet"


def _pages_pdf():
    pdf = synth.synthesize_pages_pdf(n_groups=3, docs_per_group=8, seed=5)
    quiet = pdf.iloc[:2].copy()
    quiet["url"] = [f"https://example.test/{QUIET_GROUP}/r{i}" for i in range(2)]
    quiet["html"] = [
        b"<html><body><p>The weather was mild and the walk was long.</p></body></html>",
        b"<html><body><p>Nothing here mentions any part at all.</p></body></html>",
    ]
    return pd.concat([pdf, quiet], ignore_index=True)


def _arguments(spark, pages, partitions, batch_rows):
    conf = {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(batch_rows),
    }
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        cfg = PipelineConfig()
        sent = scoring.make_scorers(cfg.scorer, cfg.scorer_params)[2]
        df = argumentation.extract_arguments(
            spark,
            tokenize.segment_pages(pages),
            cleaning.extract_doc_groups(pages),
            synth.MERONYMS,
            synth.ROOT,
            synth.SYNONYMS,
            sent,
        )
        return sorted(tuple(r) for r in df.collect())
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_arguments_do_not_depend_on_layout(spark):
    pages = spark.createDataFrame(_pages_pdf())
    one = _arguments(spark, pages, partitions=1, batch_rows=8192)
    many = _arguments(spark, pages, partitions=8, batch_rows=7)
    assert one == many

    nodes = set(synth.MERONYMS) | {synth.ROOT}
    by_group: dict[str, dict[str, tuple]] = {}
    for row in one:
        by_group.setdefault(row[0], {})[row[1]] = row
    assert set(by_group) == {f"g{g:05d}" for g in range(3)} | {QUIET_GROUP}
    assert all(set(rows) == nodes for rows in by_group.values())
    quiet = by_group[QUIET_GROUP]
    assert quiet[synth.ROOT][3] == 0.5
    assert all(r[3] == 0.0 and r[2] for n, r in quiet.items() if n != synth.ROOT)
