"""M1/M2/M3 — batched scorer UDFs behind a pluggable interface.

The reference runs three BERT heads (entity prob, meronym-direction probs,
targeted sentiment: entity_bert_net.py / rel_bert_net.py / tdbertnet.py).
This engine treats each as a `Scorer`: a picklable object whose `score*`
method maps one pandas batch -> numeric columns, one value per row in row
order. The fused mining kernels (functions/mining.py,
operators/argumentation.py) call it inside their `mapInPandas` pass, so
Arrow batches stream through a single Python worker per partition (model
weights, when a real backend is used, load once per worker — the iterator
pattern keeps them warm across batches).

CI uses the deterministic Lexicon*Scorer backend (FIXTURES.md §4):
ground-truth-aware scores keyed on the synthetic vocabulary (synth.py), with
an md5 jitter, making the end-to-end pipeline recover the planted ontology;
the oracle shares it, and this is what the P/R gate runs against.
A real BERT backend can implement the same protocol behind an import-try
(torch is not available in this environment).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

import pandas as pd


def _h01(*parts: str) -> float:
    """Deterministic hash -> [0,1)."""
    digest = hashlib.md5(":".join(parts).encode("utf-8")).digest()
    return int.from_bytes(digest[:8], "big") / 2**64


# ---------------------------------------------------------------------------
# Entity scorer (M1): P(candidate term is a real aspect) per instance
# ---------------------------------------------------------------------------


@dataclass
class LexiconEntityScorer:
    """High prob for terms in the known aspect lexicon, low otherwise,
    plus a +/-0.02 deterministic jitter so mean-aggregation is exercised."""

    aspect_terms: frozenset[str]

    def score_entities(self, pdf: pd.DataFrame) -> pd.Series:
        out = []
        for e, t in zip(pdf["entity"], pdf["masked_tokens"]):
            base = 0.93 if e in self.aspect_terms else 0.12
            out.append(base + 0.04 * (_h01("entj", e, " ".join(t)) - 0.5))
        return pd.Series(out, index=pdf.index, dtype="float64")


# ---------------------------------------------------------------------------
# Relation scorer (M2): per instance, P(fst hasFeature snd), P(snd hasFeature fst)
# ---------------------------------------------------------------------------


@dataclass
class LexiconRelationScorer:
    """Scores keyed on a known meronomy. `canon` maps any synonym to its
    canonical concept so synset-representative names still resolve."""

    meronyms: dict[str, str]  # child concept -> parent concept (canonical)
    canon: dict[str, str] = field(default_factory=dict)

    def _canon(self, term: str) -> str:
        return self.canon.get(term, term)

    def _p(self, whole: str, part: str, jitter_key: str) -> float:
        w, p = self._canon(whole), self._canon(part)
        base = 0.82 if self.meronyms.get(p) == w else 0.04
        return base + 0.04 * (_h01("relj", w, p, jitter_key) - 0.5)

    def score_relations(self, pdf: pd.DataFrame) -> pd.DataFrame:
        fwd, bwd = [], []
        for c1, c2, t in zip(pdf["fst_concept"], pdf["snd_concept"], pdf["masked_tokens"]):
            key = " ".join(t)
            # forward = P(fst hasFeature snd): fst is the whole, snd the part
            fwd.append(self._p(c1, c2, key))
            bwd.append(self._p(c2, c1, key))
        return pd.DataFrame({"forward_score": fwd, "backward_score": bwd}, index=pdf.index)


# ---------------------------------------------------------------------------
# Sentiment scorer (M3): signed polarity value per (phrase, target span)
# ---------------------------------------------------------------------------


@dataclass
class LexiconSentimentScorer:
    """Strong signed score when a cue word is present (above the 0.95 vote
    threshold, review.py:26), weak hash noise otherwise."""

    positive: frozenset[str]
    negative: frozenset[str]

    _WORD_RE = re.compile(r"[a-z']+")

    def score_sentiments(self, pdf: pd.DataFrame) -> pd.Series:
        out = []
        for phrase, form, start in zip(pdf["phrase"], pdf["form"], pdf["start"]):
            toks = set(self._WORD_RE.findall((phrase or "").lower()))
            pos = bool(toks & self.positive)
            neg = bool(toks & self.negative)
            jit = 0.03 * _h01("sentj", phrase or "", form or "", str(start))
            if pos and not neg:
                out.append(0.96 + jit)
            elif neg and not pos:
                out.append(-0.96 - jit)
            else:
                out.append(0.6 * (2 * _h01("sentn", phrase or "", form or "") - 1))
        return pd.Series(out, index=pdf.index, dtype="float64")


# ---------------------------------------------------------------------------
# Backend selection
# ---------------------------------------------------------------------------


def make_scorers(kind: str, params: dict):
    """Returns (entity_scorer, relation_scorer, sentiment_scorer)."""
    if kind == "lexicon":
        from llm_review_aggregation_spark import synth

        aspect_terms = frozenset(params.get("aspect_terms", synth.ASPECT_TERMS))
        meronyms = dict(params.get("meronyms", synth.MERONYMS))
        canon = params.get("canon")
        if canon is None:
            canon = {s: c for c, syns in synth.SYNONYMS.items() for s in syns}
        positive = frozenset(params.get("positive", synth.POSITIVE))
        negative = frozenset(params.get("negative", synth.NEGATIVE))
        return (
            LexiconEntityScorer(aspect_terms),
            LexiconRelationScorer(meronyms, canon),
            LexiconSentimentScorer(positive, negative),
        )
    if kind == "bert":
        from llm_review_aggregation_spark.functions import bert_scorers as bs

        bs._require_torch()  # fail fast on the driver, not mid-job on executors
        return (
            bs.BertEntityScorer(params["entity_weights"], params.get("batch_size", 32)),
            bs.BertRelationScorer(params["relation_weights"], params.get("batch_size", 16)),
            bs.BertSentimentScorer(params["sentiment_weights"], params.get("batch_size", 32)),
        )
    if kind == "llm":
        # M7: prompted extraction (batch -> generate -> regex-parse), the
        # reference's BERT_OR_LLM=LLM path (run.sh:36-39)
        from llm_review_aggregation_spark.functions import llm_scorers

        return llm_scorers.make_llm_scorers(params)
    raise ValueError(f"unknown scorer kind: {kind}")
