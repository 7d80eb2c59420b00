"""llm_review_aggregation_spark — a from-scratch PySpark-native knowledge-graph
construction engine.

Re-expresses the capabilities of the reference pipeline
(`ImperialOntology/llm-review-aggregation`, see SURVEY.md) as idiomatic Spark
DataFrame dataflow:

    pages(url, warc_ts, html, text, lang)
      -> docs            (E1 extract: byte-stable clean text per url)
      -> sentences       (E2 segment: sentence/word tokenize, explode)
      -> candidates      (E3 mine:    phrase vocab + noun-term counts, top-k)
      -> aspects         (E4 detect:  mention mining + batched scorer UDF)
      -> synsets         (E5 link:    embeddings + bounded-CC canonicalization)
      -> ontology_edges  (E6 relate:  relation mining + scored agg + tree)
      -> arguments       (E7 opine:   sentiment votes + QBAF + DF-QuAD)

All heavy lifting is DataFrame ops + Arrow-batched pandas UDFs; no per-row
Python UDFs, no RDDs. Every stage checkpoints with per-partition lineage
rows so runs resume mid-pipeline (plans.pipeline).
"""

from llm_review_aggregation_spark import zipcache

__version__ = "0.1.0"

# every Python worker imports this package when it unpickles an engine
# kernel; from then on its per-task import-cache reset skips unchanged zips
zipcache.install()
