"""E4 — aspect detection: candidates -> scored aspects.

Dataflow (reference: ontology_bert/aspects/manager.py:59-73,
bert_entity_extractor.py:28-60):

    sentences x broadcast(top-k candidates)  --T7-->  entity instances
      (mined + M1-scored in one fused mapInPandas pass; only (entity,
      prob) leaves the Python worker)
      --groupBy(entity).avg(prob)-->  mean prob per candidate
      --filter(prob >= 0.65) join collected candidates-->  aspects(term, count, prob)

One shuffle total (the avg groupBy; the candidates join is a broadcast of
a local table). The <= n_candidate_aspects candidates are ranked on the
driver, and the result is left unsorted: a global sort of a tiny table
would cost a sampling job and a shuffle. Candidates with no instances drop
out (the reference maps them to None and filters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_review_aggregation_spark.functions import mining
from llm_review_aggregation_spark.session import local_table


def extract_aspects(
    sentences: DataFrame,
    candidates: DataFrame,
    entity_scorer,
    entity_prob_threshold: float = 0.65,
) -> DataFrame:
    """candidates: (term, count), in any order. Returns (term, count, prob),
    NOT sorted: callers that need rank order (count desc, term asc) sort it.

    The mining kernel matches candidates in rank order, so the collected
    rows are ranked on the driver; for valid UTF-8, Python's code-point
    order on `term` is Spark's binary string order."""
    cand_rows = sorted(
        candidates.select("term", "count").collect(), key=lambda r: (-r["count"], r["term"])
    )
    entities = [r["term"] for r in cand_rows]

    scored = mining.mine_and_score_entities(sentences, entities, entity_scorer)
    mean_probs = scored.groupBy("entity").agg(F.avg("prob").alias("prob"))

    # join the collected rows, not `candidates`: a lazy candidates plan would
    # re-run its noun-terms pass over the sentences
    collected = local_table(sentences.sparkSession, cand_rows, "term string, count long")
    return (
        collected.join(mean_probs, collected["term"] == mean_probs["entity"], "inner")
        .filter(F.col("prob") >= entity_prob_threshold)
        .select("term", "count", "prob")
    )
