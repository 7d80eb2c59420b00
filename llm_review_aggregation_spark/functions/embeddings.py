"""M4/M6 — distributed co-occurrence embeddings + similarity model.

The reference trains gensim Word2Vec (window=4, min_count=1) on the
phrase-merged corpus and compares candidate terms with
``relative_cosine_similarity`` (word_vectoriser_base.py:77-108,
concepts/word2vec_wrapper.py:34-57). gensim is unavailable here and is
nondeterministic with workers>1 anyway (SURVEY §7 R3), so this engine uses a
deterministic distributed alternative with the same *interface*:

- term vector = hashed-PPMI context vector: co-occurrence counts within a
  +/-window, aggregated with one distributed groupBy (map-side combined),
  context words feature-hashed into `dim` buckets, PPMI-weighted.
  Only the candidate terms' vectors (<=100 x dim) are collected.
- similarity(t1, t2) = 1 if equal/lemma-equal, else
  rcs(t1,t2) + rcs(t2,t1), where rcs(a,b) = cos(a,b) / sum(top-10 |cos(a,x)|
  over the candidate set) — the reference's relative-cosine scheme with the
  neighbor set restricted to the terms actually being clustered.

The *parity surface* is the synsets, not raw vectors (SURVEY §7 R3): the
test oracle uses this same model.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_review_aggregation_spark import textproc as tp
from llm_review_aggregation_spark.session import local_table


def _bucket(word: str, dim: int) -> int:
    return int.from_bytes(hashlib.md5(word.encode("utf-8")).digest()[:4], "big") % dim


def cooccurrence_counts(sentences: DataFrame, terms: list[str], window: int, dim: int) -> DataFrame:
    """(term, bucket, count) for candidate terms only.

    Pairs are emitted by a pandas UDF (term occurrences x context window)
    pre-aggregated per batch, then reduced by one distributed groupBy —
    partial aggregation keeps skewed head terms cheap. Multi-word terms
    match as raw word sequences.
    """
    term_tokens = [(t, tuple(t.split(" "))) for t in terms]

    def gen(batches):
        # first-token index (a position can only start a match whose first
        # word is at it) + per-worker md5-bucket memo (bounded by the live
        # vocabulary; saves one md5 per context-token OCCURRENCE)
        idx: dict[str, list] = {}
        for term, tt in term_tokens:
            idx.setdefault(tt[0], []).append((term, list(tt), len(tt)))
        bucket_of: dict[str, int] = {}
        for pdf in batches:
            out: dict[tuple[str, int], int] = {}
            for toks in pdf["tokens"]:
                toks = list(toks)
                n = len(toks)
                for i, tok in enumerate(toks):
                    for term, tt, L in idx.get(tok, ()):
                        if L > 1 and toks[i : i + L] != tt:
                            continue
                        lo = max(0, i - window)
                        hi = min(n, i + L + window)
                        for j in range(lo, hi):
                            if i <= j < i + L:
                                continue
                            w = toks[j]
                            b = bucket_of.get(w)
                            if b is None:
                                b = bucket_of[w] = _bucket(w, dim)
                            key = (term, b)
                            out[key] = out.get(key, 0) + 1
            yield pd.DataFrame(
                [(t, b, c) for (t, b), c in out.items()],
                columns=["term", "bucket", "count"],
            )

    pairs = sentences.select("tokens").mapInPandas(gen, "term string, bucket int, count long")
    return pairs.groupBy("term", "bucket").agg(F.sum("count").alias("count"))


class SimilarityModel:
    """Driver-side similarity over collected candidate vectors."""

    def __init__(self, terms: list[str], vectors: np.ndarray, topn: int = 10):
        self.terms = list(terms)
        self.index = {t: i for i, t in enumerate(self.terms)}
        norms = np.linalg.norm(vectors, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        unit = vectors / norms
        self.cos = unit @ unit.T  # (n, n) cosine matrix
        n = len(self.terms)
        self.topn_sum = np.zeros(n)
        for i in range(n):
            others = np.delete(self.cos[i], i)
            if others.size:
                top = np.sort(others)[::-1][:topn]
                self.topn_sum[i] = float(np.sum(top))

    def _rcs(self, a: int, b: int) -> float:
        denom = self.topn_sum[a]
        if denom <= 0:
            return 0.0
        return float(self.cos[a][b] / denom)

    def similarity(self, t1: str, t2: str) -> float:
        if t1 == t2 or tp.lemmatize_simple(t1) == tp.lemmatize_simple(t2):
            return 1.0
        i, j = self.index.get(t1), self.index.get(t2)
        if i is None or j is None:
            return 0.0
        return self._rcs(i, j) + self._rcs(j, i)

    def are_syns(self, t1: str, t2: str, threshold: float) -> bool:
        if t1 == t2 or tp.lemmatize_simple(t1) == tp.lemmatize_simple(t2):
            return True
        return self.similarity(t2, t1) >= threshold


def ppmi_weights(counts: DataFrame) -> DataFrame:
    """(term, bucket, count) -> (term, bucket, w) with w = max(PMI, 0),
    fully distributed (three small aggregates joined back; no collect).

    Same math as the driver-side weighting in build_similarity_model —
    log(c * total / (row_sum * col_sum)) clamped at 0."""
    term_tot = counts.groupBy("term").agg(F.sum("count").alias("t_sum"))
    bucket_tot = counts.groupBy("bucket").agg(F.sum("count").alias("b_sum"))
    total = counts.agg(F.sum("count").alias("total"))
    w = (
        counts.join(F.broadcast(term_tot), "term")
        .join(F.broadcast(bucket_tot), "bucket")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "w",
            F.greatest(
                F.log(F.col("count") * F.col("total") / (F.col("t_sum") * F.col("b_sum"))),
                F.lit(0.0),
            ),
        )
        .filter(F.col("w") > 0)
        .select("term", "bucket", "w")
    )
    return w


def sparse_cosine_pairs(weights: DataFrame, threshold: float, salt_mod: int | None = None) -> DataFrame:
    """(term, bucket, w) -> (src, dst, cos) for unordered term pairs with
    cosine >= threshold. Classic sparse similarity join: pairs are generated
    only where terms share a bucket (one shuffle on bucket), so cost follows
    co-occurrence structure instead of |dictionary|^2.

    `salt_mod=m` is the EXACT skew split for hot buckets (head context
    words): the lhs keeps one salted copy per row (hash(src) % m) while the
    rhs is replicated into all m sub-buckets, so every co-bucket pair is
    still generated exactly once but a hot bucket's join work fans out over
    m reducers instead of one. Replication cost is m× on the rhs only —
    standard salted-join discipline, no recall loss (unlike band-LSH, a
    pair here has no second chance to collide)."""
    norms = weights.groupBy("term").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    lhs = weights.select("bucket", F.col("term").alias("src"), F.col("w").alias("w1"))
    rhs = weights.select("bucket", F.col("term").alias("dst"), F.col("w").alias("w2"))
    if salt_mod:
        lhs = lhs.withColumn("_s", F.pmod(F.hash("src"), F.lit(salt_mod)))
        rhs = rhs.withColumn(
            "_s", F.explode(F.sequence(F.lit(0), F.lit(salt_mod - 1)))
        )
        join_keys = ["bucket", "_s"]
    else:
        join_keys = ["bucket"]
    dots = (
        lhs.join(rhs, join_keys)
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum(F.col("w1") * F.col("w2")).alias("dot"))
    )
    na = norms.select(F.col("term").alias("src"), F.col("norm").alias("n1"))
    nb = norms.select(F.col("term").alias("dst"), F.col("norm").alias("n2"))
    return (
        dots.join(F.broadcast(na), "src")
        .join(F.broadcast(nb), "dst")
        .withColumn("cos", F.col("dot") / F.greatest(F.col("n1") * F.col("n2"), F.lit(1e-12)))
        .filter(F.col("cos") >= threshold)
        .select("src", "dst", "cos")
    )


def merge_phrase_tokens(terms: list[str]):
    """Column expression: `tokens` with every multi-word term's token
    subsequence merged into one underscore-joined token — the gensim
    phrase-merge step the reference applies before Word2Vec training
    (word_vectoriser_base.py:77-93). JVM-side: one join to a spaced
    string, one chained regexp_replace per (bounded, <=dictionary-size)
    multi-word term with a lookahead so adjacent occurrences both merge,
    one re-split."""
    import re as _re

    phrases = [t.split(" ") for t in terms if " " in t]
    col = F.concat(F.lit(" "), F.array_join(F.col("tokens"), " "), F.lit(" "))
    # longest first so "optical zoom lens" wins over "optical zoom"
    for tt in sorted(phrases, key=len, reverse=True):
        pat = " " + _re.escape(" ".join(tt)) + "(?= )"
        col = F.regexp_replace(col, pat, " " + "_".join(tt))
    return F.filter(F.split(F.trim(col), " "), lambda t: t != "")


def _w2v_term_key(term: str) -> str:
    return term.replace(" ", "_")


def _fit_word2vec(
    sentences: DataFrame,
    terms: list[str],
    window: int,
    dim: int,
    min_count: int,
    epochs: int,
    seed: int,
    num_partitions: int,
    corpus: DataFrame | None = None,
):
    """Fit Spark MLlib Word2Vec (distributed skip-gram) on the
    phrase-merged token stream (or a caller-prepared `corpus` with a
    `_toks` column); returns the fitted model. numPartitions=1 keeps the
    fit deterministic for a fixed seed (the same caveat as gensim
    workers>1, SURVEY §7 R3); raise it for throughput at corpus scale and
    re-validate the synset threshold."""
    from pyspark.ml.feature import Word2Vec

    if corpus is None:
        corpus = sentences.select(merge_phrase_tokens(terms).alias("_toks"))
    w2v = (
        Word2Vec()
        .setInputCol("_toks")
        .setOutputCol("_vec")
        .setVectorSize(dim)
        .setWindowSize(window)
        .setMinCount(min_count)
        .setMaxIter(epochs)
        .setSeed(seed)
        .setNumPartitions(num_partitions)
    )
    return w2v.fit(corpus)


def build_word2vec_similarity_model(
    sentences: DataFrame,
    terms: list[str],
    window: int = 4,
    dim: int = 300,
    topn: int = 10,
    min_count: int = 1,
    epochs: int = 20,
    seed: int = 17,
    num_partitions: int = 1,
) -> SimilarityModel:
    """M4 via Spark MLlib Word2Vec — the reference's gensim skip-gram
    (size 300, window 4, min_count 1, 20 epochs,
    concepts/word2vec_wrapper.py:34-57) re-fit with Spark's distributed
    implementation, which is SURVEY §7 R3's stated web-scale plan (gensim
    is single-node and nondeterministic with workers>1). The fit is
    cluster-parallel; only the candidate terms' vectors (<=dictionary
    size x dim) are collected into the driver-side SimilarityModel, whose
    relative-cosine interface is unchanged."""
    model = _fit_word2vec(sentences, terms, window, dim, min_count, epochs, seed, num_partitions)
    keys = {_w2v_term_key(t): t for t in terms}
    rows = model.getVectors().filter(F.col("word").isin(list(keys))).collect()
    by_term = {keys[r["word"]]: np.array(r["vector"].toArray()) for r in rows}
    vecs = np.zeros((len(terms), dim))
    for i, t in enumerate(terms):
        if t in by_term:
            vecs[i] = by_term[t]
    return SimilarityModel(terms, vecs, topn=topn)


def _char_ngrams(word: str, n_min: int, n_max: int) -> list[str]:
    """FastText subword units: boundary-marked character n-grams of
    <word>."""
    marked = f"<{word}>"
    out = []
    for n in range(n_min, n_max + 1):
        out.extend(marked[i : i + n] for i in range(len(marked) - n + 1))
    return out


def subword_corpus(
    sentences: DataFrame, terms: list[str], ngram_min: int = 3, ngram_max: int = 6
) -> DataFrame:
    """The joint-subword training stream: the phrase-merged token stream
    with every token followed inline by the boundary-marked char n-grams of
    its '_'-separated word parts. Skip-gram over this stream trains n-gram
    vectors IN CONTEXT — each gram co-occurs with its word's neighbors —
    which is FastText's input side (center word represented by its grams
    predicting context), rather than a post-hoc average of word vectors.
    Phrase merging stays a JVM expression; the gram interleave runs in one
    Arrow-batched mapInPandas (a 3-deep nested lambda column expression
    miscompiles — higher-order-function variable capture — so the Python
    pass is the correct tool here, same as the mining kernels)."""
    import pandas as pd

    toks = sentences.select(merge_phrase_tokens(terms).alias("_toks"))
    nmin, nmax = ngram_min, ngram_max

    def gen(batches):
        for pdf in batches:
            out = []
            for ts in pdf["_toks"]:
                stream: list[str] = []
                for t in ts:
                    stream.append(t)
                    for w in t.split("_"):
                        stream.extend(_char_ngrams(w, nmin, nmax))
                out.append(stream)
            yield pd.DataFrame({"_toks": out})

    return toks.mapInPandas(gen, "_toks array<string>")


def _fit_subword(
    sentences: DataFrame,
    terms: list[str],
    window: int,
    dim: int,
    min_count: int,
    epochs: int,
    seed: int,
    num_partitions: int,
    ngram_min: int,
    ngram_max: int,
):
    """Skip-gram fit over `subword_corpus`. The training window counts
    STREAM tokens; each word occupies ~(1 + grams) stream slots, so the word
    window is scaled to keep the word-level context width comparable
    (estimated from the dictionary — deterministic, no extra corpus pass)."""
    per_word = [
        1 + len(_char_ngrams(w, ngram_min, ngram_max))
        for t in terms
        for w in _w2v_term_key(t).split("_")
    ] or [1]
    stream_window = max(window, int(round(window * sum(per_word) / len(per_word))))
    corpus = subword_corpus(sentences, terms, ngram_min, ngram_max)
    return _fit_word2vec(
        sentences, terms, stream_window, dim, min_count, epochs, seed,
        num_partitions, corpus=corpus,
    )


def build_fasttext_similarity_model(
    sentences: DataFrame,
    terms: list[str],
    window: int = 5,
    dim: int = 100,
    topn: int = 10,
    min_count: int = 1,
    epochs: int = 20,
    seed: int = 17,
    num_partitions: int = 1,
    ngram_min: int = 3,
    ngram_max: int = 6,
) -> SimilarityModel:
    """M5 — FastText-style subword model (reference: gensim FastText
    skipgram size 100 window 5, concepts/fasttext_wrapper.py:34-67),
    restated on public Spark API. MLlib has no FastText, so the skip-gram
    fit runs over the SUBWORD training stream (`subword_corpus` — every
    token followed inline by its boundary-marked char n-grams), and n-gram
    vectors are TRAINED in the context of their words' neighbors — gensim
    FastText's actual behavior on the input side. A term's vector is then
    the mean of its trained word vector (when in-vocab) and its trained
    n-gram vectors; OOV terms compose from n-grams alone. Update cost per
    center word is ~(1 + grams) vector updates — the same order as real
    FastText, which also updates every n-gram of the center word.

    The joint fit trains word vectors as their own stream tokens, not
    SGD-constrained to equal their n-gram sum as in gensim's
    shared-gradient training. A post-fit minimum-norm least-squares
    correction of the gram matrix (`_tie_gram_vectors`) closes that gap:
    every in-vocab dictionary term's gram-only composition reproduces its
    exposed composite, so OOV terms compose in the same geometry the
    in-vocab terms live in.
    """
    model = _fit_subword(
        sentences, terms, window, dim, min_count, epochs, seed,
        num_partitions, ngram_min, ngram_max,
    )
    keys = {_w2v_term_key(t): t for t in terms}
    wanted = sorted(
        set(keys)
        | {
            g
            for t in terms
            for w in _w2v_term_key(t).split("_")
            for g in _char_ngrams(w, ngram_min, ngram_max)
        }
    )
    spark = sentences.sparkSession
    wanted_df = local_table(spark, [(w,) for w in wanted], "word string")
    rows = model.getVectors().join(F.broadcast(wanted_df), "word").collect()
    vec_of = {r["word"]: np.array(r["vector"].toArray()) for r in rows}
    in_vocab = [k for k in keys if k in vec_of]
    tied = _tie_gram_vectors(vec_of, in_vocab, ngram_min, ngram_max)
    vecs = np.zeros((len(terms), dim))
    for i, t in enumerate(terms):
        key = _w2v_term_key(t)
        gram_list = [
            g for w in key.split("_") for g in _char_ngrams(w, ngram_min, ngram_max)
        ]
        if key in vec_of:
            # in-vocab: the exposed composite (word vector + trained grams)
            # — unchanged by tying; the tied grams are FIT to reproduce it
            parts = [vec_of[key]] + [vec_of[g] for g in gram_list if g in vec_of]
        else:
            # OOV: compose from the tied gram space, so a stem of a trained
            # word reconstructs ~that word's composite
            parts = [
                p
                for p in (tied.get(g, vec_of.get(g)) for g in gram_list)
                if p is not None
            ]
        if parts:
            vecs[i] = np.mean(parts, axis=0)
    return SimilarityModel(terms, vecs, topn=topn)


def _tie_gram_vectors(
    vec_of: dict[str, np.ndarray],
    in_vocab_keys: list[str],
    ngram_min: int,
    ngram_max: int,
) -> dict[str, np.ndarray]:
    """Post-fit least-squares gram tying — the M5 residual closed.

    gensim FastText ties word and n-gram vectors through shared SGD
    gradients: the center word's representation IS (word + sum-of-grams),
    so updating it updates every gram (fasttext_wrapper.py:34-67 fits that
    model). The joint MLlib fit trains words and grams as separate stream
    tokens, which leaves the gram space free to drift from the word space;
    OOV composition then lands near — but not in — the geometry the
    in-vocab terms live in. This applies the tying as a post-fit
    constraint: find the minimum-norm correction `delta` to the trained
    gram matrix `U0` such that every in-vocab dictionary term's GRAM-ONLY
    mean composition reproduces its exposed (word + grams) composite,

        A @ (U0 + delta) ~= B,   delta = lstsq(A, B - A @ U0)

    where row i of `A` holds the term's gram-mean coefficients and row i of
    `B` its composite vector. `lstsq` returns the least-squares solution of
    minimum Frobenius norm, so grams no in-vocab term touches keep their
    trained vectors exactly, and shared grams move as little as possible.
    An OOV stem of a trained word (shared grams dominate its list) then
    reconstructs ~that word's composite — the property the shared-gradient
    fit provides natively. Bounded driver-side cost: A is
    (|dictionary| x |dictionary grams|), a few-hundred-square SVD."""
    gram_lists: dict[str, list[str]] = {}
    for k in in_vocab_keys:
        gl = [
            g
            for w in k.split("_")
            for g in _char_ngrams(w, ngram_min, ngram_max)
            if g in vec_of
        ]
        if gl:
            gram_lists[k] = gl
    grams = sorted({g for gl in gram_lists.values() for g in gl})
    if not grams:
        return {}
    dim = len(next(iter(vec_of.values())))
    gidx = {g: j for j, g in enumerate(grams)}
    A = np.zeros((len(gram_lists), len(grams)))
    B = np.zeros((len(gram_lists), dim))
    for i, (k, gl) in enumerate(gram_lists.items()):
        for g in gl:
            A[i, gidx[g]] += 1.0 / len(gl)
        B[i] = np.mean([vec_of[k]] + [vec_of[g] for g in gl], axis=0)
    U0 = np.stack([vec_of[g] for g in grams])
    delta, *_ = np.linalg.lstsq(A, B - A @ U0, rcond=None)
    U = U0 + delta
    return {g: U[j] for g, j in gidx.items()}


def save_similarity_model(model: SimilarityModel, path: str) -> None:
    """S6 model-artifact sink — the reference pickles its gensim models
    (word2vec_wrapper.py:50-51, word_vectoriser_base.py:61-66); here the
    collected term/vector table is written as one npz artifact (terms +
    the raw cosine/topn state is recomputed on load, so the file holds
    only data, no code)."""
    import os

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    # persist the exact cosine matrix and topn sums: cheap (n<=dictionary
    # size) and makes load byte-reproducible without refitting
    # fixed-width unicode (dtype=str), NOT dtype=object: object arrays force
    # allow_pickle=True on load, and unpickling a tampered artifact can run
    # arbitrary code — <U strings round-trip with allow_pickle=False
    np.savez(
        path,
        terms=np.array(model.terms, dtype=str),
        cos=model.cos,
        topn_sum=model.topn_sum,
    )


def load_similarity_model(path: str) -> SimilarityModel:
    """S6 model-artifact scan: rebuild the SimilarityModel from the npz
    artifact (broadcast-safe — a few KB for a <=512-term dictionary)."""
    if not path.endswith(".npz"):
        path = path + ".npz"
    try:
        data = np.load(path, allow_pickle=False)
        data["terms"]  # object-dtype terms raise here, not at np.load
    except ValueError as e:
        if "pickle" not in str(e).lower():
            raise
        # artifacts written before the fixed-width-string format stored
        # terms as dtype=object, which requires allow_pickle=True — a load
        # path this module deliberately refuses (unpickling a tampered
        # artifact can run arbitrary code). Point at the migration path
        # instead of surfacing numpy's opaque error.
        raise ValueError(
            f"similarity-model artifact {path!r} predates the fixed-width "
            "string format (terms stored as dtype=object, which would need "
            "allow_pickle=True to read). Re-save it with "
            "save_similarity_model() from a session that still has the "
            "model, or refit; this loader never unpickles."
        ) from e
    model = SimilarityModel.__new__(SimilarityModel)
    model.terms = [str(t) for t in data["terms"]]
    model.index = {t: i for i, t in enumerate(model.terms)}
    model.cos = data["cos"]
    model.topn_sum = data["topn_sum"]
    return model


def build_similarity_model(
    sentences: DataFrame,
    terms: list[str],
    window: int = 4,
    dim: int = 4096,
    topn: int = 10,
) -> SimilarityModel:
    counts = cooccurrence_counts(sentences, terms, window, dim).collect()
    idx = {t: i for i, t in enumerate(terms)}
    vecs = np.zeros((len(terms), dim))
    for row in counts:
        vecs[idx[row["term"]], row["bucket"]] = row["count"]
    # PPMI weighting
    total = vecs.sum()
    if total > 0:
        row_sum = vecs.sum(axis=1, keepdims=True)
        col_sum = vecs.sum(axis=0, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            pmi = np.log((vecs * total) / (row_sum * col_sum))
        pmi[~np.isfinite(pmi)] = 0.0
        vecs = np.maximum(pmi, 0.0)
    return SimilarityModel(terms, vecs, topn=topn)
