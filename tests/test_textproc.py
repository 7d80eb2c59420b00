"""Unit specs for the pure-Python text primitives.

The clean-text cases mirror the reference's behavioral contract
(tests/unit/src/data/test_amazon_load_preprocess.py:40-57): strip html,
drop special characters, ASCII-fold, lowercase.
"""

import pandas as pd
import pytest

from llm_review_aggregation_spark import textproc as tp


class TestCleanText:
    def test_strips_html(self):
        assert tp.clean_text("<p>Hello <b>World</b></p>") == "hello world"

    def test_skips_script_and_style(self):
        html = "<html><head><style>p{}</style><script>var x;</script></head><body>Hi</body></html>"
        assert tp.clean_text(html) == "hi"

    def test_removes_special_characters_keeps_punct(self):
        assert tp.clean_text("a@#$%b.,!?;:\"'c") == "ab.,!?;:\"'c"

    def test_ascii_fold(self):
        # special-char strip removes the accented char before NFKD runs
        # (reference composition order: base_load_preprocess.py:26-32)
        assert tp.clean_text("café résumé") == "caf rsum"

    def test_entities_decoded(self):
        # &amp; -> '&' (stripped as special); &nbsp; -> U+00A0, kept by \s,
        # NFKD-folded to a plain space
        assert tp.clean_text("a &amp; b &nbsp;c") == "a  b  c"

    def test_lowercases(self):
        assert tp.clean_text("MiXeD CaSe") == "mixed case"

    def test_bytes_input(self):
        assert tp.clean_text("<p>Bytes</p>".encode()) == "bytes"


class TestTokenize:
    def test_sentences(self):
        assert tp.sent_tokenize("One. Two! Three? Four") == ["One.", "Two!", "Three?", "Four"]

    def test_sentences_splitlines(self):
        assert tp.sent_tokenize("line one\nline two") == ["line one", "line two"]

    def test_words(self):
        assert tp.word_tokenize("the screen's size, fine!") == ["the", "screen's", "size", ",", "fine", "!"]

    def test_filter_underscore(self):
        assert tp.filter_underscore("A_B c") == "a b c"


class TestPhrases:
    def test_score(self):
        # (c_ab - min) * vocab / (c_a * c_b)
        assert tp.phrase_score(10, 20, 5, 100, 1) == (9 * 100) / (20 * 5)

    def test_apply_greedy_nonoverlap(self):
        pairs = {("a", "b"), ("b", "c")}
        assert tp.apply_phrases(["a", "b", "c"], pairs) == ["a_b", "c"]

    def test_apply_no_match(self):
        assert tp.apply_phrases(["x", "y"], {("a", "b")}) == ["x", "y"]


class TestNounTerms:
    def test_single_nouns_kept(self):
        toks = ["the", "battery", "is", "great", "."]
        assert tp.noun_terms(toks, tp.pos_filtered_ngrams(toks, toks)) == ["battery"]

    def test_multiword_all_nn_jj_kept(self):
        toks = ["battery", "life"]
        merged = ["battery_life"]
        assert tp.pos_filtered_ngrams(toks, merged) == ["battery life"]
        assert tp.noun_terms(toks, ["battery life"]) == ["battery life"]

    def test_multiword_with_verb_split(self):
        toks = ["works", "battery"]
        assert tp.pos_filtered_ngrams(toks, ["works_battery"]) == ["works", "battery"]

    def test_stopword_and_short_dropped(self):
        toks = ["it", "a", "ox"]
        assert tp.noun_terms(toks, toks) == ["ox"]


class TestEntityMining:
    ENTS = [("battery", ("battery",)), ("camera", ("camera",))]

    def test_single_mention_masked(self):
        toks = "the battery is great .".split()
        assert tp.mine_entity_instance(toks, self.ENTS) == (["the", "[MASK]", "is", "great", "."], 1, "battery")

    def test_two_distinct_mentions_dropped(self):
        toks = "the battery of the camera".split()
        assert tp.mine_entity_instance(toks, self.ENTS) is None

    def test_nested_mention_outermost_wins(self):
        ents = [("battery", ("battery",)), ("battery life", ("battery", "life"))]
        toks = "the battery life rocks".split()
        out = tp.mine_entity_instance(toks, ents)
        assert out == (["the", "[MASK]", "rocks"], 1, "battery life")

    def test_non_noun_rejected(self):
        ents = [("great", ("great",))]
        assert tp.mine_entity_instance("the great wall".split(), ents) is None


class TestRelationMining:
    SYN = {"battery": [("battery",)], "camera": [("camera",), ("cam",)]}

    def test_pair_masked_in_order(self):
        toks = "the battery of the cam is fine".split()
        out = tp.mine_relation_instance(toks, ["battery", "camera"], self.SYN)
        assert out is not None
        masked, idxs, concepts = out
        assert masked == ["the", "[MASK]", "of", "the", "[MASK]", "is", "fine"]
        assert idxs == [1, 4]
        assert concepts == ["battery", "camera"]

    def test_single_mention_none(self):
        assert tp.mine_relation_instance("the battery is fine".split(), ["battery", "camera"], self.SYN) is None

    def test_same_concept_twice_none(self):
        toks = "the camera and the cam".split()
        assert tp.mine_relation_instance(toks, ["battery", "camera"], self.SYN) is None

    def test_three_mentions_none(self):
        syn = dict(self.SYN, lens=[("lens",)])
        toks = "battery cam lens".split()
        assert tp.mine_relation_instance(toks, ["battery", "camera", "lens"], syn) is None


class TestGlossary:
    def test_match_and_ancestor_suppression(self):
        # tree: camera -> battery; phrase mentions battery AND camera;
        # battery (leaf, postorder-first) matches and suppresses camera
        parents = {"camera": None, "battery": "camera"}
        gloss = {"camera": [["camera"]], "battery": [["battery"]]}
        toks = "the battery of the camera".split()
        got = tp.match_glossary(toks, ["battery", "camera"], parents, gloss)
        assert got == [("battery", "battery", 1, 2)]

    def test_no_suppression_without_descendant_match(self):
        parents = {"camera": None, "battery": "camera"}
        gloss = {"camera": [["camera"]], "battery": [["battery"]]}
        toks = "the camera is good".split()
        got = tp.match_glossary(toks, ["battery", "camera"], parents, gloss)
        assert got == [("camera", "camera", 1, 2)]

    def test_multiple_spans(self):
        parents = {"n": None}
        got = tp.match_glossary("x a x a".split(), ["n"], parents, {"n": [["a"]]})
        assert got == [("n", "a", 1, 2), ("n", "a", 3, 4)]

    def test_split_phrases(self):
        out = tp.split_phrases("good but bad although ugly", 38.4)
        assert out == ["good", "bad", "ugly"]

    def test_split_phrases_max_words(self):
        long = " ".join(["w"] * 40)
        assert tp.split_phrases(long, 38.4) == []

    def test_well_formatted(self):
        assert tp.is_well_formatted("ok phrase (fine)!")
        assert not tp.is_well_formatted("bad * char")


class TestTokenizerBackendSeam:
    """The NLTK parity seam (VERDICT #7): a swapped backend must reach the
    Spark executors through the UDF closures, and the engine/oracle pair
    must stay differential-equal when BOTH use the swapped backend."""

    @pytest.fixture
    def shouty_backend(self):
        # distinguishable stand-in for NLTK: also splits sentences on ';'
        import re as _re

        def sent(t):
            out = []
            for seg in _re.split(r"(?<=[.!?;])\s+", t):
                seg = seg.strip()
                if seg:
                    out.append(seg)
            return out

        return tp.TokenizerBackend("shouty", sent, tp._word_tokenize_simple,
                                   lambda toks: tp.pos_tag_simple(toks))

    def test_swap_reaches_executors(self, spark, shouty_backend):
        from llm_review_aggregation_spark.functions import tokenize as tk

        docs = spark.createDataFrame(
            [("u1", "g1", "part one; part two. done.")], "url string, group_id string, text string"
        )
        try:
            tp.set_tokenizer_backend(shouty_backend)
            swapped = tk.segment_sentences(docs).collect()
        finally:
            tp.set_tokenizer_backend("simple")
        default = tk.segment_sentences(docs).collect()
        assert len(swapped) == 3  # ';' split happened inside the executor UDF
        assert len(default) == 2

    def test_fused_segment_null_url_parity(self, spark):
        """ADVICE round-5: a null url must yield a NULL group_id from the
        fused E1+E2 path exactly like the unfused regexp_extract (which is
        null-propagating), and a non-matching non-null url must yield "".
        The driver-side oracle must accept the same pages and agree."""
        from llm_review_aggregation_spark.functions import cleaning
        from llm_review_aggregation_spark.functions import tokenize as tk
        from llm_review_aggregation_spark.oracle import pipeline_oracle as oracle

        pages_pdf = pd.DataFrame(
            {
                "url": [None, "no-scheme-url", "http://h/cam1/r1"],
                "html": ["one sentence here.", "another sentence.", "a third sentence."],
            }
        )
        pages = spark.createDataFrame(pages_pdf, "url string, html string")

        def key(rows):
            return sorted(
                (
                    (r["url"], r["group_id"], r["sent_id"], r["sentence"], tuple(r["tokens"]))
                    for r in rows
                ),
                key=repr,  # None-safe ordering
            )

        fused = key(tk.segment_pages(pages).collect())
        unfused = key(tk.segment_sentences(cleaning.extract_docs(pages)).collect())
        assert fused == unfused
        assert key(oracle.sentences_from_docs(oracle.docs_from_pages(pages_pdf))) == fused
        by_url = {u: g for (u, g, *_rest) in fused}
        assert by_url[None] is None
        assert by_url["no-scheme-url"] == ""

    def test_differential_holds_under_swap(self, spark, shouty_backend):
        from llm_review_aggregation_spark import synth
        from llm_review_aggregation_spark.functions import tokenize as tk
        from llm_review_aggregation_spark.oracle import pipeline_oracle as oracle

        pages = synth.synthesize_pages(spark, n_groups=2, docs_per_group=6)
        pages_pdf = synth.synthesize_pages_pdf(n_groups=2, docs_per_group=6)
        try:
            tp.set_tokenizer_backend(shouty_backend)
            from llm_review_aggregation_spark.functions import cleaning

            spark_sents = sorted(
                (r["url"], r["sent_id"], r["sentence"], tuple(r["tokens"]))
                for r in tk.segment_sentences(cleaning.extract_docs(pages)).collect()
            )
            oracle_sents = sorted(
                (s["url"], s["sent_id"], s["sentence"], tuple(s["tokens"]))
                for s in oracle.sentences_from_docs(oracle.docs_from_pages(pages_pdf))
            )
        finally:
            tp.set_tokenizer_backend("simple")
        assert spark_sents == oracle_sents

    def test_nltk_backend_gated(self):
        with pytest.raises((NotImplementedError,)):
            tp.nltk_backend()
