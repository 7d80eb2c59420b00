"""M4/M5 embedding backends: Spark MLlib Word2Vec (the reference's gensim
skip-gram restated per SURVEY §7 R3) and the FastText-style subword variant,
plus the S6 model-artifact sink/scan (save/load of the fitted similarity
state). Reference: concepts/word2vec_wrapper.py:34-57,
concepts/fasttext_wrapper.py:34-67, word_vectoriser_base.py:61-66."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from llm_review_aggregation_spark import synth
from llm_review_aggregation_spark.functions import cleaning, embeddings, tokenize


@pytest.fixture(scope="module")
def sentences(spark):
    pages = synth.synthesize_pages(spark, n_groups=4, docs_per_group=30)
    docs = cleaning.extract_docs(pages)
    return tokenize.segment_sentences(docs).cache()


TERMS = ["battery", "power cell", "lens", "screen", "camera"]


class TestMergePhraseTokens:
    def test_merges_multiword_terms(self, spark):
        df = spark.createDataFrame(
            [(["the", "power", "cell", "died"],), (["power", "cell", "power", "cell"],)],
            "tokens array<string>",
        )
        out = [r[0] for r in df.select(embeddings.merge_phrase_tokens(TERMS)).collect()]
        assert out[0] == ["the", "power_cell", "died"]
        # adjacent occurrences must BOTH merge (lookahead, not consumed space)
        assert out[1] == ["power_cell", "power_cell"]

    def test_longest_phrase_wins(self, spark):
        df = spark.createDataFrame([(["optical", "zoom", "lens"],)], "tokens array<string>")
        out = [r[0] for r in df.select(
            embeddings.merge_phrase_tokens(["optical zoom", "optical zoom lens"])
        ).collect()]
        assert out[0] == ["optical_zoom_lens"]

    def test_no_phrases_passthrough(self, spark):
        df = spark.createDataFrame([(["a", "b"],)], "tokens array<string>")
        out = [r[0] for r in df.select(embeddings.merge_phrase_tokens(["a", "b"])).collect()]
        assert out[0] == ["a", "b"]

    def test_randomized_vs_python_reference(self, spark):
        """Seeded differential: the chained-regexp column expression must
        equal a sequential longest-first list-rewriting reference on random
        token streams drawn from a small alphabet (maximizing overlaps and
        adjacent/partial phrase collisions)."""
        import random

        rng = random.Random(1234)
        vocab = ["a", "b", "c", "d", "e"]
        phrases = ["a b", "b c", "a b c", "d e", "e a"]

        def ref_merge(tokens):
            toks = list(tokens)
            for ph in sorted((p.split(" ") for p in phrases), key=len, reverse=True):
                out, i = [], 0
                while i < len(toks):
                    if toks[i : i + len(ph)] == ph:
                        out.append("_".join(ph))
                        i += len(ph)
                    else:
                        out.append(toks[i])
                        i += 1
                toks = out
            return toks

        cases = [[rng.choice(vocab) for _ in range(rng.randrange(0, 12))] for _ in range(60)]
        df = spark.createDataFrame([(c,) for c in cases], "tokens array<string>")
        got = [r[0] for r in df.select(embeddings.merge_phrase_tokens(phrases)).collect()]
        want = [ref_merge(c) for c in cases]
        assert got == want


class TestWord2VecBackend:
    def test_deterministic_across_fits(self, sentences):
        m1 = embeddings.build_word2vec_similarity_model(
            sentences, TERMS, dim=32, epochs=2, seed=7
        )
        m2 = embeddings.build_word2vec_similarity_model(
            sentences, TERMS, dim=32, epochs=2, seed=7
        )
        assert np.allclose(m1.cos, m2.cos)

    def test_synonyms_score_above_unrelated(self, sentences):
        """The parity surface is the clustering decision: synth synonyms
        (which share contexts by construction) must score higher than
        cross-concept pairs under the relative-cosine interface."""
        syn_pairs = [(c, s) for c, ss in synth.SYNONYMS.items() for s in ss if s != c][:4]
        terms = sorted({t for p in syn_pairs for t in p} | {"shipping", "price"})
        m = embeddings.build_word2vec_similarity_model(sentences, terms, dim=64, epochs=5, seed=7)
        syn_scores = [m.similarity(a, b) for a, b in syn_pairs]
        unrel = [m.similarity(a, "shipping") for a, _ in syn_pairs]
        assert np.mean(syn_scores) > np.mean(unrel), (syn_scores, unrel)

    def test_multiword_terms_get_vectors(self, spark):
        rows = [(["the", "power", "cell", "died", "fast"],)] * 30 + [
            (["battery", "died", "fast", "again"],)
        ] * 30
        df = spark.createDataFrame(rows, "tokens array<string>")
        m = embeddings.build_word2vec_similarity_model(df, ["power cell", "battery"], dim=16, epochs=2)
        i = m.index["power cell"]
        assert np.any(m.cos[i] != 0)


class TestFastTextBackend:
    def test_oov_term_gets_subword_vector(self, sentences):
        """FastText's headline behavior: a term absent from the corpus
        still embeds via its trained char n-grams, and lands nearest its
        morphological stem."""
        m = embeddings.build_fasttext_similarity_model(
            sentences, ["battery", "batterys", "lens", "screen"],
            dim=32, epochs=2, seed=7,
        )
        i = m.index["batterys"]  # not in any synth review
        assert np.any(~np.isclose(m.cos[i], 0)), "OOV term must embed"
        # cosine to its stem beats cosine to unrelated terms
        cos_stem = m.cos[i][m.index["battery"]]
        cos_other = m.cos[i][m.index["screen"]]
        assert cos_stem > cos_other, (cos_stem, cos_other)

    def test_subword_corpus_trains_grams_in_context(self, spark, sentences):
        """The fastText fit must TRAIN the n-gram vectors, not synthesize them:
        the training stream interleaves each word with its boundary-marked
        grams, and the fitted vocabulary contains the grams themselves."""
        corpus = embeddings.subword_corpus(sentences, ["battery"], 3, 4)
        row = corpus.limit(1).collect()[0]["_toks"]
        grams = [t for t in row if t.startswith("<") or t.endswith(">")]
        words = [t for t in row if not (t.startswith("<") or t.endswith(">"))]
        assert grams and words, row
        # each word is immediately followed by its own grams: the token
        # after a word w must be a prefix-gram of <w>
        wi = row.index(words[0])
        assert row[wi + 1] == f"<{words[0]}"[:4] or row[wi + 1].startswith("<"), row[: wi + 2]
        m = embeddings._fit_word2vec(
            sentences, ["battery"], 8, 16, 1, 1, 7, 1,
            corpus=embeddings.subword_corpus(sentences, ["battery"], 3, 4),
        )
        vocab = {r["word"] for r in m.getVectors().collect()}
        assert "<bat" in vocab and "battery" in vocab, sorted(vocab)[:20]

    def test_joint_oov_geometry_has_a_margin(self, sentences):
        """The point of joint training with tied grams: the OOV stem margin
        (cos to stem minus max cos to an unrelated term) is positive.
        Deterministic fits make this a fixed check, not a flake."""
        terms = ["battery", "batterys", "lens", "screen"]
        m = embeddings.build_fasttext_similarity_model(
            sentences, terms, dim=32, epochs=2, seed=7
        )
        i = m.index["batterys"]
        margin = m.cos[i][m.index["battery"]] - max(
            m.cos[i][m.index["lens"]], m.cos[i][m.index["screen"]]
        )
        assert margin > 0, margin

    def test_in_vocab_vectors_are_the_fitted_composites(self, sentences):
        """Tying only moves the GRAM space: each in-vocab term's vector is
        the mean of its fitted word vector and its fitted gram vectors, so
        the model's cosines equal those of the untouched composites."""
        terms = ["battery", "lens", "screen"]
        m = embeddings.build_fasttext_similarity_model(
            sentences, terms, dim=32, epochs=2, seed=7
        )
        # build_fasttext_similarity_model's defaults but dim and epochs
        fit = embeddings._fit_subword(
            sentences, terms, window=5, dim=32, min_count=1, epochs=2, seed=7,
            num_partitions=1, ngram_min=3, ngram_max=6,
        )
        vec_of = {r["word"]: r["vector"].toArray() for r in fit.getVectors().collect()}
        composites = np.stack([
            np.mean(
                [vec_of[t]] + [vec_of[g] for g in embeddings._char_ngrams(t, 3, 6) if g in vec_of],
                axis=0,
            )
            for t in terms
        ])
        want = embeddings.SimilarityModel(terms, composites, topn=10)
        assert np.allclose(m.cos, want.cos)

    def test_tie_gram_vectors_constraint_directly(self):
        """The LSQ tying contract on a synthetic fixture: (1) each in-vocab
        word's gram-only mean composition reproduces its (word + grams)
        composite where the system is solvable; (2) grams no in-vocab word
        touches keep their trained vectors exactly (minimum-norm
        correction). The downstream OOV stem-margin improvement is a
        statistical property of real fits (gram vectors correlated with
        their words), pinned by test_joint_oov_geometry_has_a_margin —
        on i.i.d. random vectors it need not hold pointwise, so it is not
        asserted here."""
        rng = np.random.default_rng(7)
        dim = 8
        words = ["battery", "lens"]
        vec_of = {w: rng.normal(size=dim) for w in words}
        grams = {
            g
            for w in words + ["batterys"]
            for g in embeddings._char_ngrams(w, 3, 4)
        }
        vec_of.update({g: rng.normal(size=dim) for g in grams})

        tied = embeddings._tie_gram_vectors(vec_of, words, 3, 4)
        for w in words:
            gl = embeddings._char_ngrams(w, 3, 4)
            composite = np.mean([vec_of[w]] + [vec_of[g] for g in gl], axis=0)
            gram_only = np.mean([tied[g] for g in gl], axis=0)
            # 2 equations, ~20 unknowns: exactly solvable
            assert np.allclose(gram_only, composite, atol=1e-8)
        untouched = [g for g in grams if g not in tied]
        assert untouched  # batterys-only grams ('ys>', ...) have no equation


class TestModelArtifacts:
    def test_save_load_roundtrip(self, sentences, tmp_path):
        m = embeddings.build_word2vec_similarity_model(sentences, TERMS, dim=16, epochs=1, seed=7)
        path = str(tmp_path / "simmodel.npz")
        embeddings.save_similarity_model(m, path)
        loaded = embeddings.load_similarity_model(path)
        assert loaded.terms == m.terms
        assert np.allclose(loaded.cos, m.cos)
        assert np.allclose(loaded.topn_sum, m.topn_sum)
        for a in TERMS:
            for b in TERMS:
                assert loaded.similarity(a, b) == pytest.approx(m.similarity(a, b))

    def test_load_without_extension(self, sentences, tmp_path):
        m = embeddings.build_similarity_model(sentences, ["battery", "lens"], dim=64)
        path = str(tmp_path / "m.npz")
        embeddings.save_similarity_model(m, path)
        loaded = embeddings.load_similarity_model(str(tmp_path / "m"))
        assert loaded.terms == m.terms

    def test_pre_fixed_width_artifact_raises_clear_error(self, tmp_path):
        """Artifacts written by the pre-round-4 format stored terms as
        dtype=object; the pickle-free loader must explain the migration
        path, not surface numpy's opaque allow_pickle ValueError."""
        path = str(tmp_path / "old.npz")
        np.savez(
            path,
            terms=np.array(["battery", "lens"], dtype=object),
            cos=np.eye(2),
            topn_sum=np.ones(2),
        )
        with pytest.raises(ValueError, match="re-save|Re-save"):
            embeddings.load_similarity_model(path)


class TestPipelineBackendSeam:
    def test_word2vec_backend_end_to_end(self, spark):
        """Forced-path e2e: the pipeline completes with the MLlib backend
        and still recovers the planted meronym edges (threshold
        re-validated for w2v vectors per SURVEY §7 R3 — raw vectors are
        NOT the parity surface, synsets are)."""
        from llm_review_aggregation_spark.config import PipelineConfig
        from llm_review_aggregation_spark.plans.pipeline import run_pipeline

        pages = synth.synthesize_pages(spark, n_groups=3, docs_per_group=25)
        cfg = PipelineConfig(
            root_name="camera",
            embedding_backend="word2vec",
            embedding_params={"dim": 64, "epochs": 5, "seed": 7},
            similarity_threshold=0.35,
        )
        res = run_pipeline(spark, pages, cfg)
        canon = {s: c for c, ss in synth.SYNONYMS.items() for s in ss}
        got = {
            (canon.get(r["subj"], r["subj"]), canon.get(r["obj"], r["obj"]))
            for r in res.triples.collect()
            if r["pred"] == "partOf"
        }
        want = set(synth.MERONYMS.items())
        recall = len(got & want) / len(want)
        assert recall >= 0.8, (sorted(got), sorted(want))

    def test_fasttext_backend_end_to_end(self, spark):
        """Forced-path e2e for the joint-subword backend: the pipeline
        completes with trained subword grams and still recovers most of
        the planted meronym edges (threshold re-validated for the
        gram-composed vectors, same rule as M4: synsets are the parity
        surface, raw vectors are not; measured 9/11 on the 4x20 corpus)."""
        from llm_review_aggregation_spark.config import PipelineConfig
        from llm_review_aggregation_spark.plans.pipeline import run_pipeline

        pages = synth.synthesize_pages(spark, n_groups=4, docs_per_group=20)
        cfg = PipelineConfig(
            root_name="camera",
            embedding_backend="fasttext",
            embedding_params={"dim": 48, "epochs": 4, "seed": 7},
            similarity_threshold=0.40,
        )
        res = run_pipeline(spark, pages, cfg)
        canon = {s: c for c, ss in synth.SYNONYMS.items() for s in ss}
        got = {
            (canon.get(r["subj"], r["subj"]), canon.get(r["obj"], r["obj"]))
            for r in res.triples.collect()
            if r["pred"] == "partOf"
        }
        want = set(synth.MERONYMS.items())
        recall = len(got & want) / len(want)
        assert recall >= 0.7, (sorted(got), sorted(want))

    def test_unknown_backend_raises(self, spark):
        from llm_review_aggregation_spark.config import PipelineConfig
        from llm_review_aggregation_spark.plans.pipeline import run_pipeline

        pages = synth.synthesize_pages(spark, n_groups=2, docs_per_group=10)
        with pytest.raises(ValueError, match="unknown embedding_backend"):
            run_pipeline(spark, pages, PipelineConfig(embedding_backend="glove"))
