"""The oracle side of the benchmark: expected triples and the comparison.

``expected_triples`` replays the pipeline spec through the independent,
loop-based ``oracle/pipeline_oracle.py`` over exactly the pages the engine
was given, composed the way ``plans/pipeline.run_pipeline`` composes its
stages; ``compare`` scores an engine run against it.
"""

from __future__ import annotations

import pandas as pd

from llm_review_aggregation_spark import synth
from llm_review_aggregation_spark.config import PipelineConfig
from llm_review_aggregation_spark.functions import scoring
from llm_review_aggregation_spark.operators import tree as tree_ops
from llm_review_aggregation_spark.oracle import pipeline_oracle as oracle

# absolute tolerance on a triple's score: both sides sum the same doubles,
# but Spark aggregates them in partition order
SCORE_TOL = 1e-9

Triples = dict[tuple[str, str, str], float]


def expected_triples(pages_pdf: pd.DataFrame, cfg: PipelineConfig) -> tuple[Triples, int]:
    """``({(subj, pred, obj): score}, n_sentences)`` the engine must produce
    for these pages under ``cfg``."""
    ent, rel, sent = scoring.make_scorers(cfg.scorer, cfg.scorer_params)
    docs = oracle.docs_from_pages(pages_pdf)
    sentences = oracle.sentences_from_docs(docs)
    pairs = oracle.phrase_vocab(sentences, cfg.phrase_min_count, cfg.phrase_threshold)
    cand = oracle.candidates(sentences, pairs, cfg.n_candidate_aspects)
    asp = oracle.aspects(sentences, cand, ent, cfg.entity_prob_threshold)
    ranked = sorted(asp.items(), key=lambda kv: (-kv[1][0], kv[0]))[: cfg.top_k_aspects_to_keep]
    if not ranked:
        return {}, len(sentences)
    counts = {t: c for t, (c, _p) in ranked}
    root = cfg.root_name or ranked[0][0]
    synset_counts, synset_map = oracle.synsets(sentences, counts, root, cfg)
    concepts = list(synset_counts)
    sums, _n = oracle.meronym_scores(sentences, concepts, synset_map, rel)
    matrix, kept = tree_ops.normalize_relatedness(concepts, synset_counts, sums, root)
    edges = oracle.ontology_edges(concepts, synset_counts, sums, root)
    kidx = {c: i for i, c in enumerate(kept)}
    out: Triples = {
        (c, "partOf", p): (matrix[kidx[c]][kidx[p]] if c != p else 0.0) for c, p in edges.items()
    }
    nodes = set(edges) | set(edges.values()) | {root}
    glossary = {n: synset_map.get(n, [n]) for n in nodes}
    args = oracle.arguments(
        sentences, docs, edges, root, glossary, sent, cfg.sentiment_threshold, cfg.phrase_max_words
    )
    for g, a, pol, s in zip(args["group_id"], args["aspect"], args["polarity"], args["strength"]):
        out[(g, "hasAspectOpinion", a)] = float(s) if pol else -float(s)
    return out, len(sentences)


def compare(got: Triples, want: Triples, tol: float = SCORE_TOL) -> dict:
    """Precision/recall of the ``(subj, pred, obj)`` sets and the largest
    score error over the shared keys; ``match`` needs all three exact."""
    shared = got.keys() & want.keys()
    err = max((abs(got[k] - want[k]) for k in shared), default=0.0)
    precision = len(shared) / len(got) if got else float(not want)
    recall = len(shared) / len(want) if want else 1.0
    return {
        "precision": precision,
        "recall": recall,
        "max_score_err": err,
        "match": precision == 1.0 and recall == 1.0 and err <= tol,
    }


def planted_meronymy_pr(got: Triples) -> tuple[float, float]:
    """P/R of the run's ``partOf`` edges, mapped through the synonym sets,
    against the meronymy planted in the review corpus."""
    canon = {s: c for c, ss in synth.SYNONYMS.items() for s in ss}
    planted = set(synth.MERONYMS.items())
    found = {(canon.get(s, s), canon.get(o, o)) for s, p, o in got if p == "partOf"}
    hit = len(found & planted)
    return hit / max(len(found), 1), hit / len(planted)
