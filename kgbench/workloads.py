"""Seeded inputs of the two workloads.

Both are generated here from the run's seed; the engine only ever sees the
resulting ``pages`` table.

- ``crawl``: a web-text corpus with the measured shape of the ``documents``
  table the engine's smoke entry point reads (``DOCUMENTS_SHAPE``), wrapped
  as pages by the public ``synth.pages_from_documents``.
- ``reviews_ckpt``: the synthetic camera-review corpus of
  ``synth.synthesize_pages``, whose planted meronymy (``synth.MERONYMS``) the
  engine must recover.
"""

from __future__ import annotations

import os
import random

import pandas as pd

import __spark_entry__
from llm_review_aggregation_spark import synth
from llm_review_aggregation_spark.config import DEFAULT_CONFIG

# The shape of the sf0.1 ``documents`` table (5,000 rows), measured from it
# with ``documents_shape``: 31 distinct tokens, the 30 words below used
# near-uniformly (8,829 to 9,182 times each) plus "dup" (255 times, in 5.0 %
# of the documents, nearly always once); 10 to 100 words a document,
# near-uniform (mean 54.1); 20 sources, source = doc_id mod 20, 250
# documents each. The generator below draws from that shape, with English
# at 0.40 and the other four languages at 0.15 each, and fewer documents a
# source.
DOCUMENTS_SHAPE = {
    "tokens": 31,
    "words_min": 10,
    "words_q1": 32,
    "words_median": 54,
    "words_q3": 76,
    "words_max": 100,
    "sources": 20,
    "dup_doc_share": 0.050,
    "lang_share": {"en": 0.412, "zh": 0.151, "es": 0.149, "fr": 0.148, "de": 0.140},
}

CRAWL_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
CRAWL_LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3


def crawl_documents(seed: int, n_sources: int, docs_per_source: int) -> pd.DataFrame:
    """``documents(doc_id, text, lang, source, n_chars)``; the seed picks the
    words, lengths and languages and the row order (hence partition layout)."""
    rng = random.Random(f"crawl:{seed}")
    rows = []
    for doc_id in range(n_sources * docs_per_source):
        words = [rng.choice(CRAWL_WORDS) for _ in range(rng.randint(10, 100))]
        if rng.random() < 0.05:
            words[rng.randrange(len(words))] = "dup"
        text = " ".join(words)
        rows.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": rng.choice(CRAWL_LANGS),
                "source": f"src{doc_id % n_sources}",
                "n_chars": len(text),
            }
        )
    rng.shuffle(rows)
    return pd.DataFrame(rows)


def documents_shape(documents: pd.DataFrame) -> dict:
    """The figures of ``DOCUMENTS_SHAPE`` for a ``documents`` table."""
    words = documents["text"].str.split()
    n_words = words.map(len)
    q1, median, q3 = n_words.quantile([0.25, 0.5, 0.75])
    return {
        "tokens": len({t for ws in words for t in ws}),
        "words_min": int(n_words.min()),
        "words_q1": q1,
        "words_median": median,
        "words_q3": q3,
        "words_max": int(n_words.max()),
        "sources": documents["source"].nunique(),
        "dup_doc_share": float(words.map(lambda ws: "dup" in ws).mean()),
        "lang_share": documents["lang"].value_counts(normalize=True).to_dict(),
    }


def write_crawl_documents(path: str, seed: int, n_sources: int, docs_per_source: int) -> str:
    """Write the seeded documents table to ``<path>/documents.parquet``, the
    layout ``synth.pages_from_documents`` reads; returns ``path``."""
    os.makedirs(path, exist_ok=True)
    crawl_documents(seed, n_sources, docs_per_source).to_parquet(
        os.path.join(path, "documents.parquet"), index=False
    )
    return path


class Crawl:
    """Web-text documents wrapped as pages; ephemeral (no work_dir)."""

    name = "crawl"
    checkpointed = False
    planted = False
    n_sources, docs_per_source = 20, 50

    cfg = __spark_entry__._KG_CFG

    def _pages(self, spark, seed, path, n_sources, docs_per_source):
        write_crawl_documents(path, seed, n_sources, docs_per_source)
        return synth.pages_from_documents(spark, path)

    def tiny_pages(self, spark, seed, out_dir):
        return self._pages(spark, seed, os.path.join(out_dir, "tiny_docs"), 2, 5)

    def pages(self, spark, seed, out_dir):
        """(the pages, the same pages as a pandas frame for the oracle)"""
        pages = self._pages(
            spark, seed, os.path.join(out_dir, "docs"), self.n_sources, self.docs_per_source
        )
        return pages, pages.toPandas()


class ReviewsCkpt:
    """The seeded review corpus, checkpointed to a fresh work_dir per call
    pair and resumed once from it."""

    name = "reviews_ckpt"
    checkpointed = True
    planted = True
    n_groups, docs_per_group = 10, 40

    cfg = DEFAULT_CONFIG

    def tiny_pages(self, spark, seed, out_dir):
        return synth.synthesize_pages(spark, n_groups=2, docs_per_group=5, seed=seed)

    def pages(self, spark, seed, out_dir):
        pages = synth.synthesize_pages(
            spark, n_groups=self.n_groups, docs_per_group=self.docs_per_group, seed=seed
        )
        return pages, pages.toPandas()


WORKLOADS = {w.name: w for w in (Crawl(), ReviewsCkpt())}
