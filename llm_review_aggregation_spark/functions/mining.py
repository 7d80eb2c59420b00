"""E3/E4/E6/E7 mining — phrase vocabulary, noun-term candidates, mention
instances, glossary matches.

Scale notes (the design constraints these functions satisfy):
- Phrase-vocabulary discovery (T3) is a *corpus-global* aggregation: two
  fused merge+count passes (pass 2 applies the pass-1 phrase table inside
  the counting kernel — the merged corpus is never materialized), each
  pre-aggregated per Arrow batch then reduced by one distributed groupBy,
  so skewed head tokens cost one combiner row per batch, not a hot
  reducer. Only the *scored phrase table* (above-threshold pairs, bounded
  by `max_phrase_vocab`) is collected and broadcast — never counts.
- Mention mining (T7/T8/T9) joins every sentence against a dictionary,
  fused with its scorer into one mapInPandas (mine_and_score_*) so the
  instance table crosses the Arrow boundary once.
  The dictionary is <= top-k candidates (100) here, so it is a broadcast
  into the UDF closure — the degenerate-but-optimal case of the
  MinHash-LSH blocking + salted join the north star prescribes for large
  dictionaries (operators/canonicalize.py holds the LSH path).

Reference behavior being restated: ontology_bert/phrase_tokenizer.py:29-35
(bigram->trigram Phrases), helpers.py:160-264 (POS n-grams + noun terms),
helpers.py:10-157 (entity instances), helpers.py:267-420 (relation
instances), arg_framework/review.py:138-171 (glossary matching).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from llm_review_aggregation_spark import textproc as tp


# ---------------------------------------------------------------------------
# T3: distributed gensim-style phrase vocabulary
# ---------------------------------------------------------------------------


def _scored_pairs(
    tok_df: DataFrame,
    min_count: int,
    threshold: float,
    max_vocab: int,
    merge_pairs: set[tuple[str, str]] | None = None,
) -> list[tuple[str, str]]:
    """One gensim-Phrases pass over a DataFrame with a `tokens` column:
    returns adjacent pairs whose score
    (c_ab - min_count) * vocab_size / (c_a * c_b) > threshold.

    vocab_size counts distinct unigrams + distinct bigrams, matching the
    reference library's vocabulary bookkeeping.

    `merge_pairs` (pass 2) applies the pass-1 phrase table to each token
    list INSIDE the counting kernel, so the bigram-merged corpus is never
    materialized or cached — phrase merge, unigram count and bigram count
    are one fused Python pass, pre-aggregated per Arrow batch (bounded
    vocabulary keeps the per-batch dict small), then reduced by one
    distributed groupBy. Unigrams travel as (a, b=NULL) rows.
    """
    mp = set(merge_pairs) if merge_pairs else None

    def gen(batches):
        for pdf in batches:
            out: dict[tuple[str, str | None], int] = {}
            for toks in pdf["tokens"]:
                ts = tp.apply_phrases(list(toks), mp) if mp else list(toks)
                for t in ts:
                    k = (t, None)
                    out[k] = out.get(k, 0) + 1
                for a, b in zip(ts, ts[1:]):
                    k2 = (a, b)
                    out[k2] = out.get(k2, 0) + 1
            yield pd.DataFrame(
                [(a, b, c) for (a, b), c in out.items()], columns=["a", "b", "c"]
            )

    counts = (
        tok_df.select("tokens")
        .mapInPandas(gen, "a string, b string, c long")
        .groupBy("a", "b")
        .agg(F.sum("c").alias("c"))
        .cache()
    )
    uni = counts.filter(F.col("b").isNull()).select(F.col("a").alias("t"), F.col("c"))
    bi = counts.filter(F.col("b").isNotNull()).select("a", "b", F.col("c").alias("c_ab"))
    # vocab_size (distinct unigrams + distinct bigrams) folded into the same
    # job as the scoring join — one action total, no separate count() jobs
    vocab = F.broadcast(
        counts.agg(
            F.sum(F.when(F.col("b").isNull(), 1).otherwise(0)).alias("n_uni"),
            F.sum(F.when(F.col("b").isNotNull(), 1).otherwise(0)).alias("n_bi"),
        )
    )

    ua = uni.select(F.col("t").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("t").alias("b"), F.col("c").alias("c_b"))
    scored = (
        bi.join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(vocab)
        .withColumn(
            "score",
            (F.col("c_ab") - F.lit(min_count))
            * (F.col("n_uni") + F.col("n_bi")).cast("double")
            / (F.col("c_a") * F.col("c_b")),
        )
        .filter(F.col("score") > threshold)
        .orderBy(F.desc("score"), "a", "b")
        .limit(max_vocab)
    )
    pairs = [(r["a"], r["b"]) for r in scored.select("a", "b").collect()]
    counts.unpersist()
    return pairs


def build_phrase_vocab(
    sentences: DataFrame,
    min_count: int = 1,
    threshold: float = 4.0,
    max_vocab: int = 100_000,
) -> set[tuple[str, str]]:
    """Two-pass bigram->trigram phrase table (phrase_tokenizer.py:29-35).

    Pass 2 scores pairs over the bigram-merged corpus; per the reference's
    application quirk (helpers.ngrams applies the final Phraser to *raw*
    tokens), the returned table is the pass-2 table and is applied to raw
    token lists downstream.
    """
    tok = sentences.select("tokens")
    pairs1 = set(_scored_pairs(tok, min_count, threshold, max_vocab))
    if not pairs1:
        # exact short-circuit: applying an EMPTY phrase table is the
        # identity merge, so pass 2 would recount the identical corpus and
        # return the identical (empty) table — skip the second corpus pass
        return pairs1
    # pass 2 applies the pass-1 table inside the fused counting kernel —
    # the merged corpus is never materialized (no cache, no extra scan)
    return set(_scored_pairs(tok, min_count, threshold, max_vocab, merge_pairs=pairs1))


# ---------------------------------------------------------------------------
# T4/T5 + A1/A2: noun-term candidates
# ---------------------------------------------------------------------------


def make_noun_terms_udf(pairs: set[tuple[str, str]]):
    backend = tp.current_backend()

    @pandas_udf(ArrayType(StringType()))
    def noun_terms_udf(tokens: pd.Series) -> pd.Series:
        tp.install_backend(backend)

        def go(ts):
            ts = list(ts)
            tags = tp.pos_tag(ts)  # one tagging pass shared by T4 and T5
            merged = tp.apply_phrases(ts, pairs)
            ngrams = tp.pos_filtered_ngrams(ts, merged, tags=tags)
            return tp.noun_terms(ts, ngrams, tags=tags)

        return tokens.map(go)

    return noun_terms_udf


def count_noun_terms(sentences: DataFrame, pairs: set[tuple[str, str]]) -> DataFrame:
    """sentences -> term_counts(term, count). Map-side combine via Catalyst."""
    udf = make_noun_terms_udf(pairs)
    return (
        sentences.select(F.explode(udf(F.col("tokens"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def top_candidates(term_counts: DataFrame, n: int) -> DataFrame:
    """A2 with the lexicographic tiebreak pinned (SURVEY §7 R1)."""
    return term_counts.orderBy(F.desc("count"), F.asc("term")).limit(n)


# ---------------------------------------------------------------------------
# T7: entity-instance mining
# ---------------------------------------------------------------------------

_ENTITY_SCHEMA = "url string, group_id string, sent_id int, masked_tokens array<string>, entity_idx int, entity string"


def mine_entity_instances(sentences: DataFrame, entities: list[str]) -> DataFrame:
    """sentences x broadcast(candidate terms) -> entity instances.

    `entities` must be in candidate rank order (count desc, term asc) —
    match priority follows it, as in the reference (helpers.py:138-149).
    """
    ent_tokens = [(e, tuple(e.split(" "))) for e in entities]
    backend = tp.current_backend()

    def gen(batches):
        tp.install_backend(backend)
        ent_index = tp.build_mention_index(ent_tokens)
        for pdf in batches:
            rows = []
            for url, gid, sid, toks in zip(pdf["url"], pdf["group_id"], pdf["sent_id"], pdf["tokens"]):
                r = tp.mine_entity_instance(list(toks), ent_tokens, index=ent_index)
                if r is not None:
                    masked, idx, ent = r
                    rows.append((url, gid, sid, masked, idx, ent))
            yield pd.DataFrame(
                rows, columns=["url", "group_id", "sent_id", "masked_tokens", "entity_idx", "entity"]
            )

    return sentences.select("url", "group_id", "sent_id", "tokens").mapInPandas(gen, _ENTITY_SCHEMA)


def mine_and_score_entities(
    sentences: DataFrame, entities: list[str], scorer, lean: bool = False
) -> DataFrame:
    """T7 + M1 fused into ONE mapInPandas: instances are mined and scored in
    the same Python pass, so the instance table crosses the Arrow boundary
    once (the unfused mine -> score chain pays a round trip per operator).
    Same rows as score_entity_instances(mine_entity_instances(...)).

    ``lean=True`` is the pipeline's aggregate feed: mapInPandas is a column-
    pruning barrier for Catalyst, so the Arrow transfer is pruned by hand —
    only `tokens` crosses into Python and only (entity, prob) crosses back
    (the downstream mean-prob groupBy needs nothing else). `masked_tokens`
    (the whole sentence re-serialized per instance) and the id columns never
    leave the Python worker; measured, this is most of the stage's Arrow
    bytes."""
    import pandas as pd

    from llm_review_aggregation_spark import textproc as _tp

    ent_tokens = [(e, tuple(e.split(" "))) for e in entities]
    backend = _tp.current_backend()
    cols = ["url", "group_id", "sent_id", "masked_tokens", "entity_idx", "entity"]

    if lean:
        def gen_lean(batches):
            _tp.install_backend(backend)
            ent_index = _tp.build_mention_index(ent_tokens)
            for pdf in batches:
                rows = []
                for toks in pdf["tokens"]:
                    r = _tp.mine_entity_instance(list(toks), ent_tokens, index=ent_index)
                    if r is not None:
                        masked, idx, ent = r
                        rows.append((masked, idx, ent))
                idf = pd.DataFrame(rows, columns=["masked_tokens", "entity_idx", "entity"])
                idf["prob"] = scorer.score_entities(idf) if len(idf) else pd.Series(dtype="float64")
                yield idf[["entity", "prob"]]

        return sentences.select("tokens").mapInPandas(gen_lean, "entity string, prob double")

    def gen(batches):
        _tp.install_backend(backend)
        ent_index = _tp.build_mention_index(ent_tokens)
        for pdf in batches:
            rows = []
            for url, gid, sid, toks in zip(pdf["url"], pdf["group_id"], pdf["sent_id"], pdf["tokens"]):
                r = _tp.mine_entity_instance(list(toks), ent_tokens, index=ent_index)
                if r is not None:
                    masked, idx, ent = r
                    rows.append((url, gid, sid, masked, idx, ent))
            idf = pd.DataFrame(rows, columns=cols)
            idf["prob"] = scorer.score_entities(idf) if len(idf) else pd.Series(dtype="float64")
            yield idf

    return sentences.select("url", "group_id", "sent_id", "tokens").mapInPandas(
        gen, _ENTITY_SCHEMA + ", prob double"
    )


# ---------------------------------------------------------------------------
# T8: relation-instance mining
# ---------------------------------------------------------------------------

_REL_SCHEMA = (
    "url string, group_id string, sent_id int, masked_tokens array<string>, "
    "fst_idx int, snd_idx int, fst_concept string, snd_concept string"
)


def mine_relation_instances(sentences: DataFrame, concepts: list[str], syn_dict: dict[str, list[str]]) -> DataFrame:
    syn_tokens = {c: [tuple(s.split(" ")) for s in syns] for c, syns in syn_dict.items()}
    backend = tp.current_backend()

    def gen(batches):
        tp.install_backend(backend)
        idx = tp.build_relation_index(concepts, syn_tokens)
        for pdf in batches:
            rows = []
            for url, gid, sid, toks in zip(pdf["url"], pdf["group_id"], pdf["sent_id"], pdf["tokens"]):
                r = tp.mine_relation_instance(list(toks), concepts, syn_tokens, index=idx)
                if r is not None:
                    masked, (i1, i2), (c1, c2) = r
                    rows.append((url, gid, sid, masked, i1, i2, c1, c2))
            yield pd.DataFrame(
                rows,
                columns=[
                    "url",
                    "group_id",
                    "sent_id",
                    "masked_tokens",
                    "fst_idx",
                    "snd_idx",
                    "fst_concept",
                    "snd_concept",
                ],
            )

    return sentences.select("url", "group_id", "sent_id", "tokens").mapInPandas(gen, _REL_SCHEMA)


def mine_and_score_relations(
    sentences: DataFrame, concepts: list[str], syn_dict: dict[str, list[str]], scorer,
    lean: bool = False,
) -> DataFrame:
    """T8 + M2 fused into ONE mapInPandas (same rationale as
    mine_and_score_entities): instances mined and direction-scored in one
    Python pass. Same rows as score_relation_instances(mine_relation_instances(...)).

    ``lean=True``: hand-pruned Arrow transfer for the pipeline's meronym
    aggregate — `tokens` in, (fst_concept, snd_concept, forward_score,
    backward_score) out; ids and masked_tokens stay inside the worker."""
    syn_tokens = {c: [tuple(s.split(" ")) for s in syns] for c, syns in syn_dict.items()}
    backend = tp.current_backend()
    cols = ["url", "group_id", "sent_id", "masked_tokens", "fst_idx", "snd_idx", "fst_concept", "snd_concept"]

    if lean:
        lean_cols = ["masked_tokens", "fst_idx", "snd_idx", "fst_concept", "snd_concept"]
        out_cols = ["fst_concept", "snd_concept", "forward_score", "backward_score"]

        def gen_lean(batches):
            tp.install_backend(backend)
            idx = tp.build_relation_index(concepts, syn_tokens)
            for pdf in batches:
                rows = []
                for toks in pdf["tokens"]:
                    r = tp.mine_relation_instance(list(toks), concepts, syn_tokens, index=idx)
                    if r is not None:
                        masked, (i1, i2), (c1, c2) = r
                        rows.append((masked, i1, i2, c1, c2))
                idf = pd.DataFrame(rows, columns=lean_cols)
                if len(idf):
                    scores = scorer.score_relations(idf)
                    idf["forward_score"] = scores["forward_score"]
                    idf["backward_score"] = scores["backward_score"]
                else:
                    idf["forward_score"] = pd.Series(dtype="float64")
                    idf["backward_score"] = pd.Series(dtype="float64")
                yield idf[out_cols]

        return sentences.select("tokens").mapInPandas(
            gen_lean,
            "fst_concept string, snd_concept string, forward_score double, backward_score double",
        )

    def gen(batches):
        tp.install_backend(backend)
        idx = tp.build_relation_index(concepts, syn_tokens)
        for pdf in batches:
            rows = []
            for url, gid, sid, toks in zip(pdf["url"], pdf["group_id"], pdf["sent_id"], pdf["tokens"]):
                r = tp.mine_relation_instance(list(toks), concepts, syn_tokens, index=idx)
                if r is not None:
                    masked, (i1, i2), (c1, c2) = r
                    rows.append((url, gid, sid, masked, i1, i2, c1, c2))
            idf = pd.DataFrame(rows, columns=cols)
            if len(idf):
                scores = scorer.score_relations(idf)
                idf["forward_score"] = scores["forward_score"]
                idf["backward_score"] = scores["backward_score"]
            else:
                idf["forward_score"] = pd.Series(dtype="float64")
                idf["backward_score"] = pd.Series(dtype="float64")
            yield idf

    return sentences.select("url", "group_id", "sent_id", "tokens").mapInPandas(
        gen, _REL_SCHEMA + ", forward_score double, backward_score double"
    )


# ---------------------------------------------------------------------------
# T9: glossary matching (argumentation)
# ---------------------------------------------------------------------------

_GLOSS_SCHEMA = (
    "url string, group_id string, phrase_id string, phrase_ord long, phrase string, "
    "node string, form string, start int, end int"
)


def match_glossary(
    phrases: DataFrame,
    nodes_postorder: list[str],
    parents: dict[str, str | None],
    glossary: dict[str, list[str]],
) -> DataFrame:
    """phrases x broadcast(ontology glossary) -> matched (phrase, node) spans.

    `phrase_ord` (derived from sent/phrase position) pins within-review
    tie-breaking downstream (the reference relies on Python list order)."""
    gloss_tokens = {n: [s.split(" ") for s in syns] for n, syns in glossary.items()}

    def gen(batches):
        for pdf in batches:
            rows = []
            for url, gid, pid, pord, phrase, toks in zip(
                pdf["url"], pdf["group_id"], pdf["phrase_id"], pdf["phrase_ord"], pdf["phrase"], pdf["tokens"]
            ):
                for node, form, s, e in tp.match_glossary(list(toks), nodes_postorder, parents, gloss_tokens):
                    rows.append((url, gid, pid, pord, phrase, node, form, s, e))
            yield pd.DataFrame(
                rows,
                columns=["url", "group_id", "phrase_id", "phrase_ord", "phrase", "node", "form", "start", "end"],
            )

    return phrases.select("url", "group_id", "phrase_id", "phrase_ord", "phrase", "tokens").mapInPandas(
        gen, _GLOSS_SCHEMA
    )
