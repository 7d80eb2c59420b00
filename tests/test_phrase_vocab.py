"""Exactness of the phrase vocabulary (T3): one `mining._scored_pairs` pass
and the two-pass `mining.build_phrase_vocab` against a brute-force local
scorer, the oracle's `_scored_pairs_local` plus the (score desc, a, b) cut
at `max_vocab`. Each corpus checks that it exercises the case it names."""

from __future__ import annotations

import random
from collections import Counter

import pytest

from llm_review_aggregation_spark import textproc as tp
from llm_review_aggregation_spark.functions import mining
from llm_review_aggregation_spark.oracle import pipeline_oracle as oracle


def _top(scores: dict, max_vocab: int) -> list[tuple[str, str]]:
    return [p for p, _ in sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:max_vocab]]


def _local_vocab(token_lists, min_count, threshold, max_vocab) -> set[tuple[str, str]]:
    pairs1 = set(_top(oracle._scored_pairs_local(token_lists, min_count, threshold), max_vocab))
    merged = [tp.apply_phrases(t, pairs1) for t in token_lists]
    return set(_top(oracle._scored_pairs_local(merged, min_count, threshold), max_vocab))


def _bigram_counts(token_lists) -> Counter:
    return Counter(p for toks in token_lists for p in zip(toks, toks[1:]))


def _random_corpus(seed: int, n: int) -> list[list[str]]:
    rng = random.Random(seed)
    words = [f"w{i}" for i in range(12)]
    weights = [1.0 / (i + 1) for i in range(len(words))]
    out = []
    for _ in range(n):
        toks = rng.choices(words, weights, k=rng.randint(2, 8))
        if rng.random() < 0.4:
            toks[1:1] = ["red", "wine"]
        out.append(toks)
    return out


def _ties():
    # (blue, cheese), (old, port) and (red, wine) score alike, just below
    # (hot, dog): a cut at 3 falls inside the tie, where (a, b) decides
    toks = [["red", "wine"]] * 3 + [["blue", "cheese"]] * 3 + [["old", "port"]] * 3
    toks += [["hot", "dog"]] * 2 + [["a", "b", "c"], ["the", "red", "wine", "and", "blue", "cheese"]]
    return toks, 1, 0.0, 3


CORPORA = {
    "ties_at_cut": _ties(),
    "min_count_2": (_random_corpus(3, 60), 2, 0.0, 100),
    "negative_threshold": (_random_corpus(5, 40), 4, -0.02, 1000),
    "empty": ([], 1, 0.0, 100),
    "one_token": ([["solo"]], 1, 0.0, 100),
}


def _exercises(name, toks, min_count, threshold, max_vocab):
    scores = oracle._scored_pairs_local(toks, min_count, threshold)
    ranked = sorted(scores.values(), reverse=True)
    counts = _bigram_counts(toks)
    if name == "ties_at_cut":
        return len(ranked) > max_vocab and ranked[max_vocab - 1] == ranked[max_vocab]
    if name == "min_count_2":
        # rows with c <= min_count exist (the driver never sees them), and
        # pairs still score
        return scores and any(c <= min_count for c in counts.values())
    if name == "negative_threshold":
        # a pair at or below min_count scores above the threshold, so no
        # count filter may run
        return any(counts[p] <= min_count for p in scores)
    return not scores


@pytest.fixture(scope="module")
def tok_dfs(spark):
    dfs = {
        name: spark.createDataFrame([(t,) for t in toks], "tokens array<string>").cache()
        for name, (toks, *_) in CORPORA.items()
    }
    yield dfs
    for df in dfs.values():
        df.unpersist()


@pytest.mark.parametrize("name", sorted(CORPORA))
def test_scored_pairs_pass_matches_local_scorer(tok_dfs, name):
    toks, min_count, threshold, max_vocab = CORPORA[name]
    assert _exercises(name, toks, min_count, threshold, max_vocab)
    want = _top(oracle._scored_pairs_local(toks, min_count, threshold), max_vocab)
    assert mining._scored_pairs(tok_dfs[name], min_count, threshold, max_vocab) == want


@pytest.mark.parametrize("name", sorted(CORPORA))
def test_build_phrase_vocab_matches_local_scorer(tok_dfs, name):
    toks, min_count, threshold, max_vocab = CORPORA[name]
    got = mining.build_phrase_vocab(tok_dfs[name], min_count, threshold, max_vocab)
    assert got == _local_vocab(toks, min_count, threshold, max_vocab)
