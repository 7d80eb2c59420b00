"""E7 — argumentation: sentences + ontology tree -> per-(group, aspect)
scored opinion rows (the `arguments` table).

The reference builds one Python Framework per product and re-runs BERT per
group (arg_framework/run.py:120-122 — its main scalability cliff). This
engine scores every phrase once in a single Arrow-batched pass, then runs
the QBAF/DF-QuAD computation for ALL the groups of a partition in one
vectorized `mapInPandas` pass keyed by group — one shuffle on group_id:

    sentences --T6--> phrases --T9 glossary match--> (phrase, node) spans
      --M3 scorer--> sentiments    [distributed, 1 fused mapInPandas pass]
      U docs.groupBy(group_id).count()  --repartition(group_id)-->
        per partition, every op keyed by group (pandas/numpy):
          A8 phrase/review votes -> A9 ancestor augmentation ->
          A10-A12 sums/polarity/supporter-attacker ([groups x nodes]) ->
          A13-A14 DF-QuAD strengths (post-order) ->
          A16/A17 strongest phrases + features
    arguments(group_id, aspect, polarity, strength, ...)

Semantics follow arg_framework/review.py:68-98 (votes), framework.py:137-240
(QBAF + DF-QuAD), framework.py:312-345 (best phrases), run.py:37-93 (output
shape). Reference list-order ties are pinned with explicit orderings
(SURVEY §7 R1).

Scale: the per-group state is bounded — <=100 tree nodes and one product's
matched phrases. Every sort, dedupe and array op is keyed by group so the
Python cost is paid per partition, not per group: one pandas call per
group costs ~100 ms of fixed overhead, and AQE packs many small groups into
one task, where such calls run one after another. A null group_id (null
url) is a group of its own, as in a groupBy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_review_aggregation_spark import textproc as tp

_OUT_SCHEMA = (
    "group_id string, aspect string, polarity boolean, strength double, "
    "strongest_support_phrase string, strongest_attack_phrase string, "
    "strongest_support_feature string, strongest_attack_feature string"
)


def _postorder(edges: dict[str, str], root: str) -> list[str]:
    children: dict[str, list[str]] = {}
    for c, p in sorted(edges.items()):
        children.setdefault(p, []).append(c)
    out: list[str] = []

    def walk(n: str):
        for k in children.get(n, []):
            walk(k)
        out.append(n)

    walk(root)
    return out


def _combine(strengths: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """DF-QuAD combined strength per row, 1 - prod(1 - s_i) over the masked
    columns (framework.py:181-194); 0 when none is masked. Factors multiply
    left to right, so each row equals the scalar loop over its list."""
    prod = np.ones(strengths.shape[0])
    for j in range(strengths.shape[1]):
        prod = np.where(mask[:, j], prod * (1.0 - strengths[:, j]), prod)
    return 1.0 - prod


def _make_kernel(root: str, nodes_post: list[str], edges: dict[str, str],
                 sentiment_threshold: float):
    """Build the per-partition kernel over `n_reviews` rows (one per group)
    unioned with scored phrase rows. Sorts + drop_duplicates for the max-by
    votes, a [reviews x nodes] array for ancestor augmentation and
    [groups x nodes] arrays for DF-QuAD; only the <=100-node tree walk is
    a Python loop."""
    col = {n: j for j, n in enumerate(nodes_post)}
    n_nodes = len(nodes_post)
    kids: dict[str, list[int]] = {}  # edges order: the DF-QuAD product order
    for c, p in edges.items():
        kids.setdefault(p, []).append(col[c])
    by_name_desc = {p: sorted(ks, key=lambda j: nodes_post[j], reverse=True) for p, ks in kids.items()}
    rj = col[root]

    def kernel(batches):
        parts = list(batches)  # a group may span Arrow batches
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        codes, _ = pd.factorize(pdf["group_id"], use_na_sentinel=False)
        is_count = pdf["n_reviews"].notna().to_numpy()
        if not is_count.any():
            return
        counts = pdf[is_count]
        groups = counts["group_id"].to_numpy(object)
        n_rev = counts["n_reviews"].to_numpy(float)[:, None]
        gcode = np.full(codes.max() + 1, -1)
        gcode[codes[is_count]] = np.arange(len(counts))
        scored = pdf[~is_count].assign(g=gcode[codes[~is_count]])
        scored = scored[scored["g"] >= 0]
        n_groups = len(groups)

        # A8a: per-(url, phrase, node) vote = max-abs sentiment; tie -> min start
        single = ~scored.duplicated(["g", "url", "phrase_ord"], keep=False)
        v = scored.assign(single=single, absv=scored["sentiment"].abs())
        v = v[v["absv"] > sentiment_threshold].sort_values(
            ["g", "absv", "start"], ascending=[True, False, True], kind="mergesort"
        )
        pv = v.drop_duplicates(["g", "url", "phrase_ord", "node"]).rename(columns={"sentiment": "vote"})

        # A8b: per-(url, node) review vote = sign of max-abs; tie -> min phrase_ord
        rv = pv.sort_values(
            ["g", "absv", "phrase_ord"], ascending=[True, False, True], kind="mergesort"
        ).drop_duplicates(["g", "url", "node"])

        # A9: per-review ancestor augmentation, children-before-parents
        review = rv.groupby(["g", "url"], dropna=False, sort=False).ngroup().to_numpy()
        votes = np.full((review.max() + 1 if len(review) else 0, n_nodes), np.nan)
        votes[review, rv["node"].map(col).to_numpy(int)] = np.where(rv["vote"] > 0, 1.0, -1.0)
        for n in nodes_post:
            if n in kids:
                s = np.nansum(votes[:, kids[n]], axis=1)
                fill = np.isnan(votes[:, col[n]]) & (s != 0)
                votes[fill, col[n]] = np.sign(s[fill])
        review_group = np.zeros(len(votes), dtype=int)
        review_group[review] = rv["g"].to_numpy()
        asum = np.zeros((n_groups, n_nodes))
        np.add.at(asum, review_group, np.nan_to_num(votes))

        # A10-A12: polarity, base strengths, supporter/attacker partition
        polar = asum >= 0
        base = np.abs(asum) / n_rev
        base[:, rj] = 0.5 + 0.5 * asum[:, rj] / n_rev[:, 0]

        # A13-A14: DF-QuAD, post-order (children precede parents)
        strength = np.empty((n_groups, n_nodes))
        for n in nodes_post:
            j, b = col[n], base[:, col[n]]
            ks = kids.get(n, [])
            same = polar[:, ks] == polar[:, [j]]
            a = _combine(strength[:, ks], ~same)
            s_ = _combine(strength[:, ks], same)
            d = np.abs(a - s_)
            strength[:, j] = np.where(a > s_, b - b * d, np.where(a < s_, b + (1.0 - b) * d, b))

        # A17: strongest sub-feature = argmax (strength, name)
        feats = {True: np.full((n_groups, n_nodes), None, object),
                 False: np.full((n_groups, n_nodes), None, object)}
        for p, ks in by_name_desc.items():
            j = col[p]
            for support, out in feats.items():
                top = np.full(n_groups, -np.inf)
                for k in ks:  # name-descending + strict '>' -> larger name wins ties
                    up = ((polar[:, k] == polar[:, j]) == support) & (strength[:, k] > top)
                    out[up, j] = nodes_post[k]
                    top = np.where(up, strength[:, k], top)

        # A16: strongest phrases — single-arg, well-formatted, top-5 by vote,
        # then longest (tie -> earliest of the top-5 ordering)
        phrases = {True: np.full((n_groups, n_nodes), None, object),
                   False: np.full((n_groups, n_nodes), None, object)}
        pool = pv[pv["single"] & (pv["vote"] != 0) & pv["phrase"].map(tp.is_well_formatted).astype(bool)]
        pool = pool.assign(attack=pool["vote"] < 0).sort_values(
            ["g", "node", "attack", "absv", "phrase_ord"],
            ascending=[True, True, True, False, True], kind="mergesort",
        )
        keys = ["g", "node", "attack"]
        top5 = pool[pool.groupby(keys).cumcount() < 5].reset_index(drop=True)
        best = top5.loc[top5.assign(L=top5["phrase"].str.len()).groupby(keys)["L"].idxmax()]
        for attack, sub in best.groupby("attack"):
            at = (sub["g"].to_numpy(), sub["node"].map(col).to_numpy(int))
            phrases[not attack][at] = sub["phrase"].to_numpy()

        yield pd.DataFrame(
            {
                "group_id": np.repeat(groups, n_nodes),
                "aspect": np.tile(np.array(nodes_post, dtype=object), n_groups),
                "polarity": polar.ravel(),
                "strength": strength.ravel(),
                "strongest_support_phrase": phrases[True].ravel(),
                "strongest_attack_phrase": phrases[False].ravel(),
                "strongest_support_feature": feats[True].ravel(),
                "strongest_attack_feature": feats[False].ravel(),
            }
        )

    return kernel


_SCORED_SCHEMA = (
    "group_id string, url string, phrase_ord long, "
    "phrase string, node string, start int, sentiment double"
)


def _fused_phrase_scores(
    sentences: DataFrame,
    nodes_post: list[str],
    parents: dict[str, str | None],
    glossary: dict[str, list[str]],
    scorer,
    max_words: float,
) -> DataFrame:
    """T6 + T9 + M3 in ONE mapInPandas: phrase split (textproc.split_phrases),
    glossary match (textproc.match_glossary) and sentiment scoring chained
    inside a single Python pass, so neither the phrase table nor the match
    table crosses the Arrow boundary — a chain of three Python operators
    would pay a serialize/deserialize round trip per operator. The scorer
    sees one pandas batch of matched (phrase, form, start, end) rows.
    `phrase_ord` (sentence then phrase position) pins within-review
    tie-breaking downstream (the reference relies on Python list order),
    and with `url` it identifies a phrase."""
    backend = tp.current_backend()
    gloss_tokens = {n: [s.split(" ") for s in syns] for n, syns in glossary.items()}
    cols = ["group_id", "url", "phrase_ord", "phrase", "node", "form", "start", "end"]

    def gen(batches):
        tp.install_backend(backend)
        for pdf in batches:
            rows = []
            for url, gid, sid, sentence in zip(
                pdf["url"], pdf["group_id"], pdf["sent_id"], pdf["sentence"]
            ):
                for pos, phrase in enumerate(tp.split_phrases(sentence or "", max_words)):
                    toks = tp.word_tokenize(phrase)
                    for node, form, s, e in tp.match_glossary(
                        toks, nodes_post, parents, gloss_tokens
                    ):
                        rows.append((gid, url, int(sid) * 100000 + pos, phrase, node, form, s, e))
            mdf = pd.DataFrame(rows, columns=cols)
            mdf["sentiment"] = (
                scorer.score_sentiments(mdf) if len(mdf) else pd.Series(dtype="float64")
            )
            yield mdf[["group_id", "url", "phrase_ord", "phrase", "node", "start", "sentiment"]]

    return sentences.select("url", "group_id", "sent_id", "sentence").mapInPandas(
        gen, _SCORED_SCHEMA
    )


def extract_arguments(
    spark,
    sentences: DataFrame,
    docs: DataFrame,
    edges: dict[str, str],
    root: str,
    glossary: dict[str, list[str]],
    sentiment_scorer,
    sentiment_threshold: float = 0.95,
    phrase_max_words: float = 38.4,
) -> DataFrame:
    parents: dict[str, str | None] = {root: None, **edges}
    nodes_post = _postorder(edges, root)

    # ---- T6 + T9 + M3: distributed, one fused pass over cached sentences --
    scored = _fused_phrase_scores(
        sentences, nodes_post, parents, glossary, sentiment_scorer, phrase_max_words
    )

    n_reviews = docs.groupBy("group_id").agg(F.count(F.lit(1)).alias("n_reviews"))
    return (
        scored.unionByName(n_reviews, allowMissingColumns=True)
        .repartition("group_id")
        .mapInPandas(_make_kernel(root, nodes_post, dict(edges), sentiment_threshold), _OUT_SCHEMA)
    )
