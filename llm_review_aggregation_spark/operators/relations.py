"""E6 — relation extraction: sentences + synsets -> scored meronym triples
-> ontology tree -> `ontology_edges` (subj, pred, obj, score).

Dataflow (reference: ontology_bert/relations/*, bert_rel_extractor.py:46-68):

    sentences x broadcast(synset glossary)  --T8-->  relation instances
      --M2 scorer-->  (forward_score, backward_score) per instance
      (mined + M2-scored in one fused mapInPandas pass; only the concept
      pair and its two scores leave the Python worker)
      --flatten: 2 evidence rows per instance-->
          (child=snd, parent=fst, score=forward)   # forward = P(fst hasFeature snd)
          (child=fst, parent=snd, score=backward)
      --groupBy(child, parent).agg(sum, count)-->  meronym score sums (A6)
      --driver: normalize by parent counts, greedy tree build (A7+G2)-->
    ontology_edges

The groupBy is the only shuffle and it map-side combines; the per-(child,
parent) result is <= |concepts|^2 <= 10^4 rows regardless of corpus size, so
the collect is O(1) in data scale. Skewed head concepts (everything
cooccurs with the root) are absorbed by partial aggregation; no hot reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_review_aggregation_spark.functions import mining
from llm_review_aggregation_spark.operators import tree as tree_ops
from llm_review_aggregation_spark.session import local_table


def accumulate_meronym_scores(
    sentences: DataFrame,
    concepts: list[str],
    synsets: dict[str, list[str]],
    relation_scorer,
) -> DataFrame:
    """Returns (child, parent, score_sum, pair_count)."""
    scored = mining.mine_and_score_relations(sentences, concepts, synsets, relation_scorer)
    evidence = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("snd_concept").alias("child"),
                    F.col("fst_concept").alias("parent"),
                    F.col("forward_score").alias("score"),
                ),
                F.struct(
                    F.col("fst_concept").alias("child"),
                    F.col("snd_concept").alias("parent"),
                    F.col("backward_score").alias("score"),
                ),
            )
        ).alias("e")
    ).select("e.child", "e.parent", "e.score")
    return evidence.groupBy("child", "parent").agg(
        F.sum("score").alias("score_sum"), F.count(F.lit(1)).alias("pair_count")
    )


def build_ontology_edges(
    spark,
    meronym_scores: DataFrame,
    concepts: list[str],
    synset_counts: dict[str, int],
    root_name: str,
) -> DataFrame:
    """Collect the tiny (child,parent) aggregate, normalize + build the tree
    exactly (operators/tree.py), return the triples as a local table
    (subj=child, pred='partOf', obj=parent, score=normalized relatedness):
    reading it back costs no Spark job."""
    sums = {(r["child"], r["parent"]): float(r["score_sum"]) for r in meronym_scores.collect()}
    matrix, kept = tree_ops.normalize_relatedness(concepts, synset_counts, sums, root_name)
    edges = tree_ops.build_tree_edges(matrix, kept, root_name)

    kidx = {c: i for i, c in enumerate(kept)}
    rows = []
    for child, parent in sorted(edges.items()):
        score = matrix[kidx[child]][kidx[parent]] if parent != child else 0.0
        rows.append((child, "partOf", parent, float(score)))
    return local_table(spark, rows, "subj string, pred string, obj string, score double")
