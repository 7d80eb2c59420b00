"""E3/E4/E6 mining — phrase vocabulary, noun-term candidates, mention
instances.

Scale notes (the design constraints these functions satisfy):
- Phrase-vocabulary discovery (T3) is a *corpus-global* aggregation: two
  fused merge+count passes (pass 2 applies the pass-1 phrase table inside
  the counting kernel — the merged corpus is never materialized), each
  pre-aggregated per Arrow batch then reduced by one distributed groupBy,
  so skewed head tokens cost one combiner row per batch, not a hot
  reducer. Each pass is ONE Spark action: the driver receives only the
  count rows that can score (every token and adjacent pair seen more than
  `min_count` times; every row when `threshold < 0`) plus the observed
  vocabulary size, and scores, ranks and cuts the phrase table itself.
- Mention mining (T7/T8) joins every sentence against a dictionary in one
  mapInPandas per use: the pipeline's kernels (mine_and_score_*) score the
  instances in the same Python pass, so the instance table never crosses
  the Arrow boundary; training's miners (mine_*_instances) return it. All
  four run the same per-batch loop (`_mine_batch`). (T6/T9, the opinion
  phrases, are fused the same way in operators/argumentation.py.)
  The dictionary is <= top-k candidates (100) here, so it is a broadcast
  into the UDF closure — the degenerate-but-optimal case of the
  MinHash-LSH blocking + salted join the north star prescribes for large
  dictionaries (operators/canonicalize.py holds the LSH path).

Reference behavior being restated: ontology_bert/phrase_tokenizer.py:29-35
(bigram->trigram Phrases), helpers.py:160-264 (POS n-grams + noun terms),
helpers.py:10-157 (entity instances), helpers.py:267-420 (relation
instances).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation
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
    (c_ab - min_count) * vocab_size / (c_a * c_b) > threshold, the
    `max_vocab` best in (score desc, a, b) order.

    vocab_size counts distinct unigrams + distinct bigrams, matching the
    reference library's vocabulary bookkeeping.

    `merge_pairs` (pass 2) applies the pass-1 phrase table to each token
    list INSIDE the counting kernel, so the bigram-merged corpus is never
    materialized or cached — phrase merge, unigram count and bigram count
    are one fused Python pass, pre-aggregated per Arrow batch (bounded
    vocabulary keeps the per-batch dict small), then reduced by one
    distributed groupBy. Unigrams travel as (a, b=NULL) rows.

    The pass is one Spark action. vocab_size, the number of reduced count
    rows (one per distinct unigram or bigram), is observed as they stream
    by. When threshold >= 0 a pair can only score if
    c_ab > min_count, and c_a, c_b >= c_ab, so only unigram and bigram rows
    with c > min_count reach the driver; when threshold < 0 every row does.
    The driver scores them with numpy in Catalyst's operation order (the
    long difference, then double arithmetic), so a score is bit-identical
    to the same expression evaluated in Spark.
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

    vocab = Observation()
    counts = (
        tok_df.select("tokens")
        .mapInPandas(gen, "a string, b string, c long")
        .groupBy("a", "b")
        .agg(F.sum("c").alias("c"))
        .observe(vocab, F.count(F.lit(1)).alias("vocab_size"))
    )
    if threshold >= 0:
        counts = counts.filter(F.col("c") > min_count)
    rows = counts.toArrow().to_pandas()
    vocab_size = vocab.get["vocab_size"]

    is_bi = rows["b"].notna()
    uni = rows.loc[~is_bi].set_index("a")["c"]
    bi = rows.loc[is_bi]
    c_ab = bi["c"].to_numpy()
    c_a = bi["a"].map(uni).to_numpy()
    c_b = bi["b"].map(uni).to_numpy()
    scored = bi[["a", "b"]].assign(score=(c_ab - min_count) * float(vocab_size) / (c_a * c_b))
    top = (
        scored.loc[scored["score"] > threshold]
        .sort_values(["score", "a", "b"], ascending=[False, True, True])
        .head(max_vocab)
    )
    return list(zip(top["a"], top["b"]))


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
# T7/T8: mention-instance mining
# ---------------------------------------------------------------------------

_IDS = ["url", "group_id", "sent_id"]
_ENTITY_COLS = ["masked_tokens", "entity_idx", "entity"]
_REL_COLS = ["masked_tokens", "fst_idx", "snd_idx", "fst_concept", "snd_concept"]


def _entity_finder(entities: list[str]):
    """T7 for one token list -> (masked_tokens, entity_idx, entity) or None.

    `entities` must be in candidate rank order (count desc, term asc) —
    match priority follows it, as in the reference (helpers.py:138-149).
    The mention index is built once, on the driver, and ships in the
    closure."""
    ent_tokens = [(e, tuple(e.split(" "))) for e in entities]
    index = tp.build_mention_index(ent_tokens)
    return lambda toks: tp.mine_entity_instance(toks, ent_tokens, index=index)


def _relation_finder(concepts: list[str], syn_dict: dict[str, list[str]]):
    """T8 for one token list -> (masked_tokens, fst_idx, snd_idx,
    fst_concept, snd_concept) or None."""
    syn_tokens = {c: [tuple(s.split(" ")) for s in syns] for c, syns in syn_dict.items()}
    index = tp.build_relation_index(concepts, syn_tokens)

    def find(toks):
        r = tp.mine_relation_instance(toks, concepts, syn_tokens, index=index)
        if r is not None:
            masked, (i1, i2), (c1, c2) = r
            return masked, i1, i2, c1, c2
        return None

    return find


def _mine_batch(tokens: pd.Series, find, columns: list[str]) -> pd.DataFrame:
    """One Arrow batch's `tokens` -> its instance frame. A sentence yields
    at most one instance, so the frame is indexed by the label of the
    sentence row it came from."""
    rows, at = [], []
    for i, toks in tokens.items():
        r = find(list(toks))
        if r is not None:
            rows.append(r)
            at.append(i)
    return pd.DataFrame(rows, index=at, columns=columns)


def _map_instances(sentences: DataFrame, keep: list[str], find, columns: list[str], emit, schema: str):
    """The one mining loop: `keep` + `tokens` cross into Python, each batch
    is mined by `_mine_batch`, and `emit(batch, instances)` builds what
    crosses back. mapInPandas is a column-pruning barrier for Catalyst, so
    each caller names the columns it needs on both sides."""
    backend = tp.current_backend()

    def gen(batches):
        tp.install_backend(backend)
        for pdf in batches:
            yield emit(pdf, _mine_batch(pdf["tokens"], find, columns))

    return sentences.select(*keep, "tokens").mapInPandas(gen, schema)


def _with_ids(pdf: pd.DataFrame, inst: pd.DataFrame) -> pd.DataFrame:
    return pdf.loc[inst.index, _IDS].join(inst)


def mine_entity_instances(sentences: DataFrame, entities: list[str]) -> DataFrame:
    """sentences x broadcast(candidate terms, rank order) -> entity
    instances (url, group_id, sent_id, masked_tokens, entity_idx, entity):
    the training set's distant-supervision input."""
    return _map_instances(
        sentences, _IDS, _entity_finder(entities), _ENTITY_COLS, _with_ids,
        "url string, group_id string, sent_id int, masked_tokens array<string>, "
        "entity_idx int, entity string",
    )


def mine_and_score_entities(sentences: DataFrame, entities: list[str], scorer) -> DataFrame:
    """T7 + M1 in ONE mapInPandas, the pipeline's aspect feed: only `tokens`
    crosses into Python and only (entity, prob) crosses back — the
    downstream mean-prob groupBy needs nothing else. `masked_tokens` (the
    whole sentence re-serialized per instance) never leaves the worker."""

    def emit(pdf, inst):
        prob = scorer.score_entities(inst) if len(inst) else pd.Series(dtype="float64")
        return inst[["entity"]].assign(prob=prob.to_numpy())

    return _map_instances(
        sentences, [], _entity_finder(entities), _ENTITY_COLS, emit, "entity string, prob double"
    )


def mine_relation_instances(sentences: DataFrame, concepts: list[str], syn_dict: dict[str, list[str]]) -> DataFrame:
    """sentences x broadcast(synset glossary) -> relation instances (url,
    group_id, sent_id, masked_tokens, fst_idx, snd_idx, fst_concept,
    snd_concept): the training set's distant-supervision input."""
    return _map_instances(
        sentences, _IDS, _relation_finder(concepts, syn_dict), _REL_COLS, _with_ids,
        "url string, group_id string, sent_id int, masked_tokens array<string>, "
        "fst_idx int, snd_idx int, fst_concept string, snd_concept string",
    )


def mine_and_score_relations(
    sentences: DataFrame, concepts: list[str], syn_dict: dict[str, list[str]], scorer
) -> DataFrame:
    """T8 + M2 in ONE mapInPandas, the pipeline's meronym feed: `tokens` in,
    (fst_concept, snd_concept, forward_score, backward_score) out."""

    def emit(pdf, inst):
        scores = (
            scorer.score_relations(inst) if len(inst)
            else pd.DataFrame(columns=["forward_score", "backward_score"], dtype="float64")
        )
        return inst[["fst_concept", "snd_concept"]].assign(
            forward_score=scores["forward_score"].to_numpy(),
            backward_score=scores["backward_score"].to_numpy(),
        )

    return _map_instances(
        sentences, [], _relation_finder(concepts, syn_dict), _REL_COLS, emit,
        "fst_concept string, snd_concept string, forward_score double, backward_score double",
    )
