"""Training-set construction (distributed, torch-free) + fit gating."""

from collections import Counter

import pytest

from llm_review_aggregation_spark import synth
from llm_review_aggregation_spark.functions import cleaning, mining, scoring, tokenize, training


@pytest.fixture(scope="module")
def sentences(spark):
    pages = synth.synthesize_pages(spark, n_groups=3, docs_per_group=12)
    return tokenize.segment_sentences(cleaning.extract_docs(pages)).cache()


def test_entity_training_set_labels_and_ratio(spark, sentences):
    candidates = sorted(synth.ASPECT_TERMS) + ["thing", "stuff"]
    out = training.build_entity_training_set(
        sentences, candidates, positive_terms=frozenset(synth.ASPECT_TERMS), negative_ratio=1.0
    )
    rows = out.collect()
    assert rows, "miner produced no instances"
    n_pos = sum(1 for r in rows if r["label"] == 1)
    n_neg = sum(1 for r in rows if r["label"] == 0)
    assert n_pos > 0
    # all positives kept; negatives down-sampled to <= ~ratio (hash sample
    # is binomial around the target, bound loosely)
    assert n_neg <= 2 * max(n_pos, 1) + 5
    for r in rows:
        assert (r["entity"] in synth.ASPECT_TERMS) == (r["label"] == 1)
        assert r["masked_tokens"][r["entity_idx"]] == "[MASK]"


def test_training_set_deterministic(spark, sentences):
    candidates = sorted(synth.ASPECT_TERMS)
    a = training.build_entity_training_set(sentences, candidates, frozenset(synth.ASPECT_TERMS))
    b = training.build_entity_training_set(sentences, candidates, frozenset(synth.ASPECT_TERMS))
    ka = sorted((r["url"], r["sent_id"], r["entity"], r["label"]) for r in a.collect())
    kb = sorted((r["url"], r["sent_id"], r["entity"], r["label"]) for r in b.collect())
    assert ka == kb


def test_train_val_split_partitions_by_url(spark, sentences):
    df = sentences.select("url", "sent_id")
    train, val = training.train_val_split(df, val_frac=0.3)
    urls_t = {r["url"] for r in train.collect()}
    urls_v = {r["url"] for r in val.collect()}
    assert urls_t.isdisjoint(urls_v)
    assert train.count() + val.count() == df.count()


def test_fit_is_torch_gated():
    import pandas as pd

    with pytest.raises(NotImplementedError, match="torch"):
        training.fit_entity_head(pd.DataFrame(), "/tmp/never.pt")


def test_relation_training_set_labels(spark, sentences):
    syn = {c: [c] + list(s) for c, s in synth.SYNONYMS.items()}
    concepts = sorted(syn)
    out = training.build_relation_training_set(
        sentences, concepts, syn, meronyms=dict(synth.MERONYMS), negative_ratio=1.0
    )
    rows = out.collect()
    assert rows, "relation miner produced no instances"
    n_pos = sum(1 for r in rows if r["label"] > 0)
    n_neg = sum(1 for r in rows if r["label"] == 0)
    assert n_pos > 0
    assert n_neg <= 2 * max(n_pos, 1) + 5
    for r in rows:
        fst, snd, lab = r["fst_concept"], r["snd_concept"], r["label"]
        if synth.MERONYMS.get(snd) == fst:
            assert lab == 1  # fst hasFeature snd
        elif synth.MERONYMS.get(fst) == snd:
            assert lab == 2
        else:
            assert lab == 0
        # both mention slots masked
        assert r["masked_tokens"][r["fst_idx"]] == "[MASK]"
        assert r["masked_tokens"][r["snd_idx"]] == "[MASK]"


def test_relation_training_set_deterministic(spark, sentences):
    syn = {c: [c] + list(s) for c, s in synth.SYNONYMS.items()}
    concepts = sorted(syn)
    key = lambda df: sorted(
        (r["url"], r["sent_id"], r["fst_concept"], r["snd_concept"], r["label"])
        for r in df.collect()
    )
    a = training.build_relation_training_set(sentences, concepts, syn, dict(synth.MERONYMS))
    b = training.build_relation_training_set(sentences, concepts, syn, dict(synth.MERONYMS))
    assert key(a) == key(b)


def test_pipeline_kernels_match_training_miners_scored_on_the_driver(spark, sentences):
    """The pipeline's fused mine+score kernels and training's instance
    miners run one mining loop: scoring training's rows on the driver with
    the same scorer gives the kernels' rows, as multisets."""
    ent_scorer, rel_scorer, _ = scoring.make_scorers("lexicon", {})
    candidates = sorted(synth.ASPECT_TERMS) + ["thing", "stuff"]
    inst = mining.mine_entity_instances(sentences, candidates).toPandas()
    assert len(inst) and inst["entity"].isin(synth.ASPECT_TERMS).any()
    expect = Counter(zip(inst["entity"], ent_scorer.score_entities(inst)))
    got = mining.mine_and_score_entities(sentences, candidates, ent_scorer).collect()
    assert Counter((r["entity"], r["prob"]) for r in got) == expect

    syn = {c: [c] + list(s) for c, s in synth.SYNONYMS.items()}
    concepts = sorted(syn)
    inst = mining.mine_relation_instances(sentences, concepts, syn).toPandas()
    assert len(inst)
    scores = rel_scorer.score_relations(inst)
    expect = Counter(zip(inst["fst_concept"], inst["snd_concept"],
                         scores["forward_score"], scores["backward_score"]))
    got = mining.mine_and_score_relations(sentences, concepts, syn, rel_scorer).collect()
    assert Counter(tuple(r) for r in got) == expect


def test_sentiment_training_set_polarity_classes(spark):
    rows = [
        ("the lens is great", "lens", 4, 8),        # positive cue -> 0
        ("terrible strap broke", "strap", 9, 14),    # negative cue -> 1
        ("the body exists", "body", 4, 8),           # no cue -> neutral 2
        ("great but terrible zoom", "zoom", 19, 23), # both cues -> conflict 3
    ]
    matches = spark.createDataFrame(rows, "phrase string, form string, start int, end int")
    out = {
        r["form"]: r["label"]
        for r in training.build_sentiment_training_set(
            matches, positive=frozenset({"great"}), negative=frozenset({"terrible"}),
            neutral_ratio=10.0,  # keep the single neutral row
        ).collect()
    }
    assert out == {"lens": 0, "strap": 1, "body": 2, "zoom": 3}


def test_sentiment_neutral_downsample_deterministic(spark):
    rows = [(f"neutral phrase {i}", f"f{i}", 0, 7) for i in range(200)]
    rows += [(f"great thing {i}", f"g{i}", 0, 5) for i in range(10)]
    matches = spark.createDataFrame(rows, "phrase string, form string, start int, end int")
    a = training.build_sentiment_training_set(matches, frozenset({"great"}), frozenset({"bad"}), neutral_ratio=2.0)
    b = training.build_sentiment_training_set(matches, frozenset({"great"}), frozenset({"bad"}), neutral_ratio=2.0)
    ra, rb = a.collect(), b.collect()
    assert sorted(r["form"] for r in ra) == sorted(r["form"] for r in rb)
    n_neu = sum(1 for r in ra if r["label"] == training.POLARITY_INDICES["neutral"])
    assert 0 < n_neu <= 60  # target 20 of 200, loose binomial bound


def test_all_fits_torch_gated():
    import pandas as pd

    with pytest.raises(NotImplementedError, match="torch"):
        training.fit_relation_head(pd.DataFrame(), "/tmp/never.pt")
    with pytest.raises(NotImplementedError, match="torch"):
        training.fit_sentiment_head(pd.DataFrame(), "/tmp/never.pt")
