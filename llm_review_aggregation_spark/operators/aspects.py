"""E4 — aspect detection: candidates -> scored aspects.

Dataflow (reference: ontology_bert/aspects/manager.py:59-73,
bert_entity_extractor.py:28-60):

    sentences x broadcast(top-k candidates)  --T7-->  entity instances
      (mined + M1-scored in one fused mapInPandas pass; only (entity,
      prob) leaves the Python worker)
      --groupBy(entity).avg(prob)-->  mean prob per candidate
      --filter(prob >= 0.65) join collected candidates-->  aspects(term, count, prob)

Two narrow shuffles total (the avg groupBy; the candidates join is a
broadcast). Candidates with no instances drop out (the reference maps them
to None and filters).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_review_aggregation_spark.functions import mining


def extract_aspects(
    sentences: DataFrame,
    candidates: DataFrame,
    entity_scorer,
    entity_prob_threshold: float = 0.65,
) -> DataFrame:
    """candidates: (term, count) in rank order. Returns (term, count, prob)
    sorted by rank order (count desc, term asc)."""
    cand = candidates.select("term", "count")
    cand_rows = cand.orderBy(F.desc("count"), F.asc("term")).collect()
    entities = [r["term"] for r in cand_rows]

    scored = mining.mine_and_score_entities(sentences, entities, entity_scorer)
    mean_probs = scored.groupBy("entity").agg(F.avg("prob").alias("prob"))

    # join the collected rows, not `candidates`: a lazy candidates plan would
    # re-run its noun-terms pass over the sentences. Built from pandas, so
    # Arrow makes it a local table scan with no Python worker.
    collected = sentences.sparkSession.createDataFrame(
        pd.DataFrame(cand_rows, columns=cand.columns), cand.schema
    )
    return (
        collected.join(mean_probs, collected["term"] == mean_probs["entity"], "inner")
        .filter(F.col("prob") >= entity_prob_threshold)
        .select("term", "count", "prob")
        .orderBy(F.desc("count"), F.asc("term"))
    )
