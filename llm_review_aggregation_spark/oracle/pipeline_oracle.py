"""Driver-side oracle: an independent, loop-based implementation of the
pipeline spec, used for differential testing of the Spark dataflow.

Shares only the scalar primitives (textproc), the deterministic scorers and
the driver-side graph steps (synset clustering / tree build — those are
driver-exact in the engine too, by design). Everything the engine does
*distributively* — counting, phrase-vocabulary scoring, mean-prob
aggregation, meronym-score accumulation, vote flows, QBAF + DF-QuAD — is
re-implemented here with plain dicts and recursion, mirroring the reference
semantics (aspects/manager.py, bert_rel_extractor.py:46-68,
arg_framework/review.py + framework.py)."""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd

from llm_review_aggregation_spark import textproc as tp
from llm_review_aggregation_spark.functions import embeddings, scoring
from llm_review_aggregation_spark.operators import concepts as concepts_ops
from llm_review_aggregation_spark.operators import tree as tree_ops

_GROUP_RE = re.compile(r"^[a-z]+://[^/]+/([^/]+)/")


def _none_first(key):
    """Sort key for group/url values and tuples of them: a null url gives a
    null group, which plain `sorted` cannot order against strings."""
    vals = key if isinstance(key, tuple) else (key,)
    return tuple((v is not None, v or "") for v in vals)


def _group_id(url):
    # the engine's regexp_extract: a null url gives a null group_id, a url
    # that does not match gives ""
    if url is None:
        return None
    m = _GROUP_RE.match(url)
    return m.group(1) if m else ""


def docs_from_pages(pages_pdf: pd.DataFrame) -> list[dict]:
    out = []
    for url, html in zip(pages_pdf["url"], pages_pdf["html"]):
        out.append({"url": url, "group_id": _group_id(url), "text": tp.clean_text(html)})
    return out


def sentences_from_docs(docs: list[dict]) -> list[dict]:
    out = []
    for d in docs:
        for sid, raw in enumerate(tp.sent_tokenize(d["text"])):
            s = tp.filter_underscore(raw)
            out.append(
                {
                    "url": d["url"],
                    "group_id": d["group_id"],
                    "sent_id": sid,
                    "sentence": s,
                    "tokens": tp.word_tokenize(s),
                }
            )
    return out


# --- T3: phrase vocabulary (Counter-based) ----------------------------------


def _scored_pairs_local(token_lists, min_count, threshold):
    """{(a, b): score} for every adjacent pair scoring above `threshold`."""
    uni = Counter()
    bi = Counter()
    for toks in token_lists:
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    vocab_size = len(uni) + len(bi)
    scores = {
        (a, b): tp.phrase_score(c_ab, uni[a], uni[b], vocab_size, min_count)
        for (a, b), c_ab in bi.items()
    }
    return {p: s for p, s in scores.items() if s > threshold}


def phrase_vocab(sentences, min_count=1, threshold=4.0):
    toks = [s["tokens"] for s in sentences]
    pairs1 = set(_scored_pairs_local(toks, min_count, threshold))
    merged = [tp.apply_phrases(t, pairs1) for t in toks]
    return set(_scored_pairs_local(merged, min_count, threshold))


def candidates(sentences, pairs, n=100):
    counter = Counter()
    for s in sentences:
        toks = s["tokens"]
        merged = tp.apply_phrases(toks, pairs)
        counter.update(tp.noun_terms(toks, tp.pos_filtered_ngrams(toks, merged)))
    ranked = sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))[:n]
    return dict(ranked)


# --- E4: aspects -------------------------------------------------------------


def aspects(sentences, cand_counts, entity_scorer, threshold=0.65):
    entities = [(e, tuple(e.split(" "))) for e in cand_counts]
    rows = []
    for s in sentences:
        r = tp.mine_entity_instance(s["tokens"], entities)
        if r is not None:
            masked, idx, ent = r
            rows.append({"masked_tokens": masked, "entity_idx": idx, "entity": ent})
    if not rows:
        return {}
    pdf = pd.DataFrame(rows)
    pdf["prob"] = entity_scorer.score_entities(pdf)
    means = pdf.groupby("entity")["prob"].mean()
    return {
        t: (c, float(means[t]))
        for t, c in cand_counts.items()
        if t in means.index and means[t] >= threshold
    }


# --- E5: synsets --------------------------------------------------------------


def synsets(sentences, aspect_counts, root_name, cfg):
    sim = _similarity_model(sentences, list(aspect_counts), cfg)
    counts = dict(aspect_counts)
    if root_name not in counts:
        counts = {root_name: 0, **counts}
    return concepts_ops.cluster_synsets(
        root_name, counts, sim, cfg.similarity_threshold, cfg.num_clustering_levels
    )


def _similarity_model(sentences, terms, cfg, dim=4096):
    import numpy as np

    idx = {t: i for i, t in enumerate(terms)}
    term_tokens = [(t, tuple(t.split(" "))) for t in terms]
    vecs = np.zeros((len(terms), dim))
    for s in sentences:
        toks = s["tokens"]
        n = len(toks)
        for term, tt in term_tokens:
            L = len(tt)
            for i in range(n - L + 1):
                if tuple(toks[i : i + L]) != tt:
                    continue
                lo, hi = max(0, i - cfg.embedding_window), min(n, i + L + cfg.embedding_window)
                for j in range(lo, hi):
                    if i <= j < i + L:
                        continue
                    vecs[idx[term], embeddings._bucket(toks[j], dim)] += 1
    total = vecs.sum()
    if total > 0:
        rs = vecs.sum(axis=1, keepdims=True)
        cs = vecs.sum(axis=0, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            pmi = np.log(vecs * total / (rs * cs))
        pmi[~np.isfinite(pmi)] = 0.0
        vecs = np.maximum(pmi, 0.0)
    return embeddings.SimilarityModel(terms, vecs, topn=cfg.rcs_topn)


# --- E6: relations + tree ------------------------------------------------------


def meronym_scores(sentences, concepts_list, synset_map, relation_scorer):
    syn_tokens = {c: [tuple(s.split(" ")) for s in syns] for c, syns in synset_map.items()}
    rows = []
    for s in sentences:
        r = tp.mine_relation_instance(s["tokens"], concepts_list, syn_tokens)
        if r is not None:
            masked, (i1, i2), (c1, c2) = r
            rows.append({"masked_tokens": masked, "fst_concept": c1, "snd_concept": c2})
    sums: dict[tuple[str, str], float] = {}
    counts: dict[tuple[str, str], int] = {}
    if rows:
        pdf = pd.DataFrame(rows)
        scores = relation_scorer.score_relations(pdf)
        for c1, c2, f, b in zip(
            pdf["fst_concept"], pdf["snd_concept"], scores["forward_score"], scores["backward_score"]
        ):
            sums[(c2, c1)] = sums.get((c2, c1), 0.0) + float(f)
            sums[(c1, c2)] = sums.get((c1, c2), 0.0) + float(b)
            counts[(c2, c1)] = counts.get((c2, c1), 0) + 1
            counts[(c1, c2)] = counts.get((c1, c2), 0) + 1
    return sums, counts


def ontology_edges(concepts_list, synset_counts, sums, root_name):
    matrix, kept = tree_ops.normalize_relatedness(concepts_list, synset_counts, sums, root_name)
    return tree_ops.build_tree_edges(matrix, kept, root_name)


# --- E7: argumentation (reference Framework restated with loops) ---------------


def arguments(
    sentences,
    docs,
    edges: dict[str, str],
    root: str,
    glossary: dict[str, list[str]],
    scorer,
    sentiment_threshold=0.95,
    phrase_max_words=38.4,
):
    parents = {root: None, **edges}
    children: dict[str, list[str]] = {}
    for c, p in sorted(edges.items()):
        children.setdefault(p, []).append(c)

    postorder: list[str] = []

    def walk(n):
        for k in children.get(n, []):
            walk(k)
        postorder.append(n)

    walk(root)
    gloss_tokens = {n: [s.split(" ") for s in syns] for n, syns in glossary.items()}

    # phrase extraction + glossary matching + sentiment
    match_rows = []
    for s in sentences:
        for pos, phrase in enumerate(tp.split_phrases(s["sentence"], phrase_max_words)):
            pid = f'{s["url"]}#{s["sent_id"]}#{pos}'
            pord = s["sent_id"] * 100000 + pos
            toks = tp.word_tokenize(phrase)
            for node, form, st, en in tp.match_glossary(toks, postorder, parents, gloss_tokens):
                match_rows.append(
                    {
                        "url": s["url"],
                        "group_id": s["group_id"],
                        "phrase_id": pid,
                        "phrase_ord": pord,
                        "phrase": phrase,
                        "node": node,
                        "form": form,
                        "start": st,
                        "end": en,
                    }
                )
    if match_rows:
        mdf = pd.DataFrame(match_rows)
        mdf["sentiment"] = scorer.score_sentiments(mdf)
    else:
        mdf = pd.DataFrame(
            columns=["url", "group_id", "phrase_id", "phrase_ord", "phrase", "node", "start", "sentiment"]
        )

    n_args = mdf.groupby("phrase_id").size().to_dict()

    # phrase votes: per (phrase, node) max-abs over threshold, tie -> min start
    phrase_votes: dict[tuple, dict] = {}
    for row in mdf.itertuples():
        if abs(row.sentiment) <= sentiment_threshold:
            continue
        key = (row.group_id, row.url, row.phrase_id, row.node)
        cur = phrase_votes.get(key)
        cand = {"vote": row.sentiment, "phrase": row.phrase, "phrase_ord": row.phrase_ord, "start": row.start}
        if (
            cur is None
            or abs(row.sentiment) > abs(cur["vote"])
            or (abs(row.sentiment) == abs(cur["vote"]) and row.start < cur["start"])
        ):
            phrase_votes[key] = cand

    # review votes: max-abs across phrases -> sign
    review_votes: dict[tuple, dict] = {}
    for (gid, url, pid, node), v in phrase_votes.items():
        key = (gid, url, node)
        cur = review_votes.get(key)
        if (
            cur is None
            or abs(v["vote"]) > abs(cur["raw"])
            or (abs(v["vote"]) == abs(cur["raw"]) and v["phrase_ord"] < cur["phrase_ord"])
        ):
            review_votes[key] = {"raw": v["vote"], "phrase_ord": v["phrase_ord"]}
    votes = {k: (1.0 if v["raw"] > 0 else -1.0) for k, v in review_votes.items()}

    # augmentation: post-order, per (group, url)
    review_keys = {(g, u) for g, u, _ in votes}
    for g, u in sorted(review_keys, key=_none_first):
        for node in postorder:
            if (g, u, node) in votes:
                continue
            polar = sum(votes.get((g, u, c), 0.0) for c in children.get(node, []))
            if polar != 0:
                votes[(g, u, node)] = 1.0 if polar > 0 else -1.0

    # per-group aggregates
    n_reviews = Counter(d["group_id"] for d in docs)
    groups = sorted(n_reviews, key=_none_first)
    nodes = postorder
    asum = {(g, n): 0.0 for g in groups for n in nodes}
    for (g, u, n), v in votes.items():
        asum[(g, n)] += v

    out_rows = []
    for g in groups:
        polar = {n: asum[(g, n)] >= 0 for n in nodes}
        sup = {n: [] for n in nodes}
        att = {n: [] for n in nodes}
        for c, p in edges.items():
            (sup if polar[p] == polar[c] else att)[p].append(c)
        base = {}
        for n in nodes:
            if n == root:
                base[n] = 0.5 + 0.5 * asum[(g, n)] / n_reviews[g]
            else:
                base[n] = abs(asum[(g, n)]) / n_reviews[g]

        strengths: dict[str, float] = {}

        def comb(vals):
            if not vals:
                return 0.0
            prod = 1.0
            for v in vals:
                prod *= 1.0 - v
            return 1.0 - prod

        for n in postorder:  # children precede parents
            a = comb([strengths[c] for c in att[n]])
            s_ = comb([strengths[c] for c in sup[n]])
            b = base[n]
            if a > s_:
                strengths[n] = b - b * abs(a - s_)
            elif a < s_:
                strengths[n] = b + (1 - b) * abs(a - s_)
            else:
                strengths[n] = b

        # strongest features: argmax strength, tie -> larger name (engine pin)
        def best_feat(cands):
            if not cands:
                return None
            return max(cands, key=lambda c: (strengths[c], c))

        # strongest phrases
        def best_phrase(node, support: bool):
            pool = [
                v
                for (gg, _, pid, nn), v in phrase_votes.items()
                if gg == g
                and nn == node
                and n_args.get(pid, 0) == 1
                and tp.is_well_formatted(v["phrase"])
                and (v["vote"] > 0 if support else v["vote"] < 0)
            ]
            if not pool:
                return None
            if support:
                pool.sort(key=lambda v: (-v["vote"], v["phrase_ord"]))
            else:
                pool.sort(key=lambda v: (v["vote"], v["phrase_ord"]))
            top5 = pool[:5]
            # max by length; tie -> earliest in top5 order (engine: max_by
            # struct(length, -rn))
            best = max(top5, key=lambda v: (len(v["phrase"]), -top5.index(v)))
            return best["phrase"]

        for n in nodes:
            out_rows.append(
                {
                    "group_id": g,
                    "aspect": n,
                    "polarity": polar[n],
                    "strength": strengths[n],
                    "strongest_support_phrase": best_phrase(n, True),
                    "strongest_attack_phrase": best_phrase(n, False),
                    "strongest_support_feature": best_feat(sup[n]),
                    "strongest_attack_feature": best_feat(att[n]),
                }
            )
    return pd.DataFrame(out_rows)


# --- the whole chain -----------------------------------------------------------

def run(pages_pdf: pd.DataFrame, cfg) -> dict:
    """The stage outputs for these pages under ``cfg`` (a PipelineConfig),
    composed the way plans/pipeline.run_pipeline composes its stages: E5
    clusters only the ``top_k_aspects_to_keep`` aspects by (count desc,
    term), the root defaults to the top aspect, and a corpus with no
    aspects short-circuits to no synsets, edges or arguments."""
    ent, rel, sent = scoring.make_scorers(cfg.scorer, cfg.scorer_params)
    docs = docs_from_pages(pages_pdf)
    sentences = sentences_from_docs(docs)
    pairs = phrase_vocab(sentences, cfg.phrase_min_count, cfg.phrase_threshold)
    cand = candidates(sentences, pairs, cfg.n_candidate_aspects)
    asp = aspects(sentences, cand, ent, cfg.entity_prob_threshold)
    out = {
        "docs": docs,
        "sentences": sentences,
        "candidates": cand,
        "aspects": asp,
        "synsets": {},
        "edges": {},
        "arguments": pd.DataFrame(
            columns=[
                "group_id", "aspect", "polarity", "strength",
                "strongest_support_phrase", "strongest_attack_phrase",
                "strongest_support_feature", "strongest_attack_feature",
            ]
        ),
    }
    ranked = sorted(asp.items(), key=lambda kv: (-kv[1][0], kv[0]))[: cfg.top_k_aspects_to_keep]
    if not ranked:
        return out
    counts = {t: c for t, (c, _p) in ranked}
    root = cfg.root_name or ranked[0][0]
    synset_counts, synset_map = synsets(sentences, counts, root, cfg)
    concepts_list = list(synset_counts)
    sums, _n = meronym_scores(sentences, concepts_list, synset_map, rel)
    edges = ontology_edges(concepts_list, synset_counts, sums, root)
    glossary = {n: synset_map.get(n, [n]) for n in set(edges) | set(edges.values()) | {root}}
    args = arguments(
        sentences, docs, edges, root, glossary, sent, cfg.sentiment_threshold, cfg.phrase_max_words
    )
    out.update(synsets=synset_map, edges=edges, arguments=args)
    return out
