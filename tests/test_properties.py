"""Property-based tests (hypothesis) for the pure scalar primitives.

The reference has no randomized testing (SURVEY §5.4); these pin the
invariants the distributed operators rely on, without a SparkSession.
"""

from __future__ import annotations

import math

import numpy as np

from hypothesis import given, settings
from hypothesis import strategies as st

from llm_review_aggregation_spark import textproc as tp
from llm_review_aggregation_spark.functions.textstats import _simhash64
from llm_review_aggregation_spark.operators import argumentation
from llm_review_aggregation_spark.operators.canonicalize import _minhash_signature

words = st.text(alphabet="abcdefgh", min_size=1, max_size=6)
token_lists = st.lists(words, max_size=30)


class TestApplyPhrases:
    @given(token_lists)
    def test_empty_pairs_is_identity(self, toks):
        assert tp.apply_phrases(toks, set()) == toks

    @given(token_lists, st.sets(st.tuples(words, words), max_size=8))
    def test_token_conservation(self, toks, pairs):
        """Merging never loses or reorders words — joining output on the
        delimiter reproduces the input."""
        out = tp.apply_phrases(toks, pairs)
        assert [w for t in out for w in t.split("_")] == toks

    @given(token_lists, st.sets(st.tuples(words, words), max_size=8))
    def test_non_overlapping(self, toks, pairs):
        """Each input position is consumed exactly once (len bookkeeping)."""
        out = tp.apply_phrases(toks, pairs)
        assert len(toks) - len(out) == sum(1 for t in out if "_" in t)


class TestSimhash:
    @given(token_lists)
    def test_order_invariance(self, toks):
        """Simhash is a bag-of-words signature."""
        assert _simhash64(" ".join(toks)) == _simhash64(" ".join(reversed(toks)))

    @given(token_lists)
    def test_range(self, toks):
        v = _simhash64(" ".join(toks))
        assert -(2**63) <= v < 2**63

    @given(st.text(alphabet="abc d", max_size=40))
    def test_deterministic(self, text):
        assert _simhash64(text) == _simhash64(text)


class TestMinhash:
    @settings(max_examples=30)
    @given(token_lists, st.integers(1, 3))
    def test_identical_texts_same_signature(self, toks, k):
        t = " ".join(toks)
        assert _minhash_signature(t, 16, k) == _minhash_signature(t, 16, k)

    @settings(max_examples=30)
    @given(token_lists, token_lists)
    def test_signature_of_superset_dominates(self, a, b):
        """Adding shingles can only lower (or keep) each min-hash value —
        the monotonicity LSH banding relies on."""
        ta, tboth = " ".join(a), " ".join(a + a[:1] + b) if a else " ".join(b)
        if not a:
            return
        sa = _minhash_signature(ta, 8, 1)
        sb = _minhash_signature(tboth, 8, 1)
        assert all(y <= x for x, y in zip(sa, sb))


def _combine(vals: list[float]) -> float:
    """The vectorized DF-QuAD combine on one row, every column masked in."""
    return float(argumentation._combine(np.array([vals], dtype=float), np.ones((1, len(vals)), bool))[0])


class TestDFQuad:
    @given(st.lists(st.floats(min_value=0.0, max_value=1.0, allow_nan=False), max_size=8))
    def test_combine_bounds(self, vals):
        c = _combine(vals)
        assert 0.0 <= c <= 1.0

    @given(st.lists(st.floats(min_value=0.0, max_value=0.999, allow_nan=False), max_size=6))
    def test_combine_monotone(self, vals):
        """Adding a supporter never lowers combined strength."""
        c0 = _combine(vals)
        c1 = _combine(vals + [0.5])
        assert c1 >= c0 - 1e-12

    def test_combine_matches_product_form(self):
        vals = [0.2, 0.5, 0.9]
        want = 1 - math.prod(1 - v for v in vals)
        assert abs(_combine(vals) - want) < 1e-12

    @given(st.lists(st.floats(min_value=0.0, max_value=1.0, allow_nan=False), max_size=8), st.data())
    def test_combine_rows_are_independent_scalar_loops(self, vals, data):
        """Each row multiplies only its masked factors, in column order —
        bit-identical to the scalar loop over that row's list."""
        mask = np.array(data.draw(st.lists(st.booleans(), min_size=len(vals), max_size=len(vals))), bool)
        rows = np.array([vals, vals[::-1]], dtype=float)
        got = argumentation._combine(rows, np.stack([mask, mask[::-1]]))

        def scalar_loop(vs, ms):
            prod = 1.0
            for v, m in zip(vs, ms):
                if m:
                    prod *= 1.0 - v
            return 1.0 - prod

        assert got[0] == scalar_loop(vals, mask)
        assert got[1] == scalar_loop(vals[::-1], mask[::-1])


class TestPhraseScore:
    @given(st.integers(0, 100), st.integers(1, 100), st.integers(1, 100), st.integers(1, 10000))
    def test_monotone_in_cooccurrence(self, c_ab, c_a, c_b, vocab):
        s1 = tp.phrase_score(c_ab, c_a, c_b, vocab, 1)
        s2 = tp.phrase_score(c_ab + 1, c_a, c_b, vocab, 1)
        assert s2 >= s1

    def test_zero_counts_guard(self):
        assert tp.phrase_score(1, 0, 5, 10, 1) == float("-inf")


class TestLLMParsers:
    """The regex parsers must never crash on arbitrary model output, and
    must round-trip anything the deterministic clients emit."""

    @given(st.text(max_size=300))
    @settings(max_examples=200, deadline=None)
    def test_parse_aspects_total(self, text):
        from llm_review_aggregation_spark.functions import llm_scorers as ls

        out = ls.parse_aspects(text)
        assert isinstance(out, list)
        for a, p in out:
            assert isinstance(a, str) and isinstance(p, str)

    @given(st.text(max_size=300), st.text(max_size=20), st.text(max_size=20))
    @settings(max_examples=200, deadline=None)
    def test_parse_relation_total(self, text, a1, a2):
        from llm_review_aggregation_spark.functions import llm_scorers as ls

        out = ls.parse_relation(text, a1, a2)
        assert out is None or (isinstance(out[0], bool) and out[1] == 1.0)

    @given(st.text(max_size=300))
    @settings(max_examples=200, deadline=None)
    def test_parse_judge_score_total(self, text):
        from llm_review_aggregation_spark.functions import judge

        s = judge.parse_judge_score(text)
        assert isinstance(s, int) and s >= 0

    @given(
        st.lists(
            st.tuples(
                st.text(
                    st.characters(min_codepoint=32, max_codepoint=126, exclude_characters='"\\'),
                    min_size=1,
                    max_size=15,
                ),
                st.sampled_from(["positive", "negative", "neutral"]),
            ),
            max_size=5,
        )
    )
    @settings(max_examples=100, deadline=None)
    def test_aspect_json_roundtrip(self, items):
        import json

        from llm_review_aggregation_spark.functions import llm_scorers as ls

        text = json.dumps([{"aspect": a, "polarity": p} for a, p in items])
        assert ls.parse_aspects(text) == items
