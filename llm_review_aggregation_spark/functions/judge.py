"""M8/A18 — LLM-judge scoring of extracted aspects and ontology relations.

The reference's final stage asks an external judge model to grade each
extracted aspect (is this term really a part/attribute of the product?) and
each ontology edge (is child really a part of parent?) on a 1-5 scale,
then averages relation scores and writes them back to the run's tables
(src/llm_judge/run.py:11-148, prompt_manager.py:15-30 "Score: [[N]]"
format, db/manager.py:437-465 write-back; run.sh:83-88). The reference
loops aspect-by-aspect on the driver with sleep-based rate limiting.

Spark-first restatement:

- judging is a *scoring pass over a DataFrame*: one mapInPandas over the
  aspects/edges table; each Arrow batch becomes one batched `generate`
  call on the executor (the judge client batches internally). For the
  ≤100-row ontology tables this degenerates to a single batch; for
  web-scale judging (e.g. grading millions of opinion triples) the same
  plan fans out per partition. Rate limiting and transient-error retry are
  a client concern: wrap the client in ``llm_scorers.RetryingClient``
  (bounded backoff retries + min-interval throttling, the reference's
  llm_manager.py:36-78 loop as a wrapper) and bound concurrent API callers
  by coalescing (`df.coalesce(max_concurrency)`), not by per-row sleeps.
- A18 (average relation score) is one `agg(avg)`.
- write-back is a broadcast join of the score column onto the stage table
  through the normal StageStore chokepoint — no row-at-a-time UPDATE.

Clients implement the same ``LLMClient`` protocol as M7 (llm_scorers.py);
``FakeJudgeClient`` grades deterministically from a lexicon for CI, and a
real Gemini/HF client plugs in unchanged.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ASPECT_JUDGE_INSTRUCTION = (
    "Rate from 1 (wrong) to 5 (excellent) how well the term names a real "
    "part, component or attribute of the product. Reply in the exact "
    "format Score: [[N]] followed by a short justification."
)

RELATION_JUDGE_INSTRUCTION = (
    "Rate from 1 (wrong) to 5 (excellent) how well the child names a part, "
    "property or characteristic of the parent in the context of the given "
    "product category. Reply in the exact format Score: [[N]] followed by "
    "a short justification."
)

# tolerant of Score: 4, Score*: [[4]], **Score:** 4 — the reference's regex
# (prompt_manager.py:25)
_SCORE_RE = re.compile(r"Score\**\s*:\**\s*\**(?:\[\[)?(\d+)(?:\]\])?")


def aspect_judge_prompt(product: str, term: str, examples=None) -> str:
    """Optional few-shot (input, output) exemplars ride ahead of the item
    under judgment — the reference's n-shot prompting
    (src/data/n_shot_examples.py, llm_judge_prompts.py)."""
    from llm_review_aggregation_spark.functions.llm_scorers import _with_examples

    return _with_examples(
        ASPECT_JUDGE_INSTRUCTION, examples, f"Product: {product}\nTerm: {term}"
    )


def relation_judge_prompt(category: str, parent: str, child: str, examples=None) -> str:
    from llm_review_aggregation_spark.functions.llm_scorers import _with_examples

    return _with_examples(
        RELATION_JUDGE_INSTRUCTION,
        examples,
        f"Category: {category}\nParent: {parent}\nChild: {child}",
    )


def parse_judge_score(generated_text: str) -> int:
    """Generated text -> score int; 0 when no parsable score (the
    reference's failure convention, prompt_manager.py:25-30)."""
    m = _SCORE_RE.findall(generated_text or "")
    try:
        return int(m[0])
    except (IndexError, ValueError):
        return 0


@dataclass
class FakeJudgeClient:
    """Deterministic judge for CI: 5 for lexicon-true aspects/relations,
    1 otherwise — emitted as generated text in the reference's format so
    the parser is exercised."""

    aspect_terms: frozenset[str] = frozenset()
    meronyms: dict[str, str] = field(default_factory=dict)  # child -> parent
    canon: dict[str, str] = field(default_factory=dict)
    batch_size: int = 32

    def _grade(self, prompt: str) -> int:
        pm = re.search(r"Parent: (.*)\nChild: (.*)$", prompt)
        if pm:
            parent = self.canon.get(pm.group(1), pm.group(1))
            child = self.canon.get(pm.group(2), pm.group(2))
            return 5 if self.meronyms.get(child) == parent else 1
        am = re.search(r"Term: (.*)$", prompt)
        if am:
            term = self.canon.get(am.group(1), am.group(1))
            return 5 if term in self.aspect_terms or term in self.meronyms.values() else 1
        return 0

    def generate(self, prompts: list[str], grammar: str | None = None) -> list[str]:
        return [f"Score: [[{self._grade(p)}]] deterministic grade." for p in prompts]


def judge_aspects(aspects: DataFrame, client, product: str) -> DataFrame:
    """aspects(term, ...) -> (term, judge_score). One mapInPandas pass;
    each Arrow batch = one batched generate call."""

    def gen(batches):
        for pdf in batches:
            prompts = [aspect_judge_prompt(product, t) for t in pdf["term"]]
            scores = [parse_judge_score(r) for r in client.generate(prompts)]
            yield pd.DataFrame({"term": pdf["term"], "judge_score": scores})

    return aspects.select("term").distinct().mapInPandas(
        gen, "term string, judge_score int"
    )


def judge_ontology_edges(edges: DataFrame, client, category: str, examples=None) -> DataFrame:
    """ontology_edges(subj=child, obj=parent, ...) -> (subj, obj,
    judge_score) — one batched pass over the (small) edge table."""
    examples = tuple(examples or ())

    def gen(batches):
        for pdf in batches:
            prompts = [
                relation_judge_prompt(category, parent, child, examples)
                for child, parent in zip(pdf["subj"], pdf["obj"])
            ]
            scores = [parse_judge_score(r) for r in client.generate(prompts)]
            yield pd.DataFrame({"subj": pdf["subj"], "obj": pdf["obj"], "judge_score": scores})

    return edges.select("subj", "obj").distinct().mapInPandas(
        gen, "subj string, obj string, judge_score int"
    )


def average_relation_score(scored_edges: DataFrame) -> float:
    """A18: the run-level mean relation score the reference writes back
    (run.py:146-148). One agg."""
    row = scored_edges.agg(F.avg("judge_score").alias("avg")).first()
    return float(row["avg"]) if row["avg"] is not None else 0.0


def attach_judge_scores(edges: DataFrame, scored: DataFrame) -> DataFrame:
    """Write-back as a broadcast join (vs the reference's row-at-a-time DB
    UPDATE, db/manager.py:437-465): edges + judge_score column."""
    return edges.join(F.broadcast(scored), ["subj", "obj"], "left")


def make_fake_judge() -> FakeJudgeClient:
    """The fake judge graded against the synthetic corpus's lexicons."""
    from llm_review_aggregation_spark import synth

    return FakeJudgeClient(
        aspect_terms=frozenset(synth.ASPECT_TERMS),
        meronyms=dict(synth.MERONYMS),
        canon={s: c for c, syns in synth.SYNONYMS.items() for s in syns},
    )
