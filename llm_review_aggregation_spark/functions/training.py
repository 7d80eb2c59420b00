"""Model training for the three scorer heads — the fit side of M1/M2/M3.

The reference fine-tunes each BERT head single-node from labeled instance
files (ontology_bert/base/bert_extractor_base.py:72-133: Adam lr=2e-5,
3 epochs, 5% linear warmup, grad-norm clip 1.0, CrossEntropyLoss;
src/constants.py:55-59) and the pipeline then consumes the weights
(bert_scorers._load). At 100 TB the division of labor is:

1. TRAINING-SET CONSTRUCTION IS DISTRIBUTED (this module, torch-free):
   instance mining over the full corpus reuses the same mapInPandas miners
   the inference path uses (functions/mining.py), labels come from a seed
   lexicon (distant supervision) or labeled files, negatives are
   down-sampled to a target ratio with a deterministic hash — one pass,
   no collect until the final bounded sample.
2. THE FIT IS SINGLE-NODE BY DESIGN: the reference's training sets are
   10^4-10^5 instances (term_extraction_datasets); after sampling, ours are
   too. `fit_entity_head` runs the reference's exact schedule on the
   driver (or any one GPU box) over the sampled pandas frame — torch-gated,
   absent in this sandbox.
3. WEIGHTS DISTRIBUTION: the saved state dict uses the `bert.`/`head.`
   prefixes `bert_scorers._load` accepts; ship with
   ``spark-submit --files entity.pt`` and pass
   ``SparkFiles.get("entity.pt")`` as the scorer's weights_path — loaded
   once per Python worker (bert_scorers module cache).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# reference hyperparameters (src/constants.py:55-59)
LEARNING_RATE = 2e-5
N_EPOCHS = 3
WARM_UP_FRAC = 0.05
MAX_GRAD_NORM = 1.0
BATCH_SIZE = 32
RELATION_BATCH_SIZE = 16


def _hash_frac(col, salt: str):
    """Deterministic [0,1) per row — portable, repartition-stable."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 8), 16, 10).cast("double")
        / F.lit(float(16**8))
    )


def build_entity_training_set(
    sentences: DataFrame,
    candidate_terms: list[str],
    positive_terms: frozenset[str] | set[str],
    negative_ratio: float = 1.0,
) -> DataFrame:
    """Distant-supervision training set for the entity head:
    (masked_tokens, entity_idx, entity, label).

    Mines mention instances over the WHOLE corpus with the same distributed
    miner inference uses (one mapInPandas pass), labels 1/0 by seed-lexicon
    membership, then down-samples negatives to ``negative_ratio`` x the
    positive count with a deterministic hash filter — the sample decision is
    per-row and shuffle-free; only the tiny positive count crosses to the
    driver."""
    from llm_review_aggregation_spark.functions import mining

    inst = mining.mine_entity_instances(sentences, list(candidate_terms))
    labeled = inst.withColumn(
        "label", F.col("entity").isin(*sorted(positive_terms)).cast("int")
    )
    counts = {r["label"]: r["n"] for r in labeled.groupBy("label").agg(F.count("*").alias("n")).collect()}
    n_pos, n_neg = counts.get(1, 0), counts.get(0, 0)
    if n_neg == 0 or n_pos == 0:
        return labeled
    keep_frac = min(1.0, negative_ratio * n_pos / n_neg)
    key = F.concat_ws("#", "url", F.col("sent_id").cast("string"), "entity")
    return labeled.filter(
        (F.col("label") == 1) | (_hash_frac(key, "enttrain") < F.lit(keep_frac))
    )


def build_relation_training_set(
    sentences: DataFrame,
    concepts: list[str],
    syn_dict: dict[str, list[str]],
    meronyms: dict[str, str],
    negative_ratio: float = 1.0,
) -> DataFrame:
    """Distant-supervision training set for the relation head:
    (masked_tokens, fst_idx, snd_idx, fst_concept, snd_concept, label) with
    the reference's 3-class convention (constants.py:46) — 0 = no relation,
    1 = fst hasFeature snd (snd is fst's part), 2 = snd hasFeature fst.

    Instances come from the same distributed T8 miner inference uses
    (mining.mine_relation_instances — its output IS the relation instance
    schema, relations/relation_dataset.py:9-18); labels come from a seed
    meronym dict (part -> whole over canonical concepts); class-0 rows are
    hash-down-sampled to ``negative_ratio`` x the positive count, same
    shuffle-free decision as the entity builder."""
    from llm_review_aggregation_spark.functions import mining

    inst = mining.mine_relation_instances(sentences, list(concepts), syn_dict)
    if meronyms:
        pairs: list = []
        for part, whole in sorted(meronyms.items()):
            pairs += [F.lit(part), F.lit(whole)]
        whole_of = F.create_map(*pairs)
        label = (
            F.when(whole_of[F.col("snd_concept")] == F.col("fst_concept"), F.lit(1))
            .when(whole_of[F.col("fst_concept")] == F.col("snd_concept"), F.lit(2))
            .otherwise(F.lit(0))
        )
    else:
        label = F.lit(0)
    labeled = inst.withColumn("label", label)
    counts = {
        r["pos"]: r["n"]
        for r in labeled.groupBy((F.col("label") > 0).alias("pos")).agg(F.count("*").alias("n")).collect()
    }
    n_pos, n_neg = counts.get(True, 0), counts.get(False, 0)
    if n_neg == 0 or n_pos == 0:
        return labeled
    keep_frac = min(1.0, negative_ratio * n_pos / n_neg)
    key = F.concat_ws("#", "url", F.col("sent_id").cast("string"), "fst_concept", "snd_concept")
    return labeled.filter(
        (F.col("label") > 0) | (_hash_frac(key, "reltrain") < F.lit(keep_frac))
    )


# the reference's polarity class indices (bert_dataset.py:9)
POLARITY_INDICES = {"positive": 0, "negative": 1, "neutral": 2, "conflict": 3}


def build_sentiment_training_set(
    matches: DataFrame,
    positive: frozenset[str] | set[str],
    negative: frozenset[str] | set[str],
    neutral_ratio: float = 1.0,
) -> DataFrame:
    """Distant-supervision training set for the targeted-sentiment head:
    glossary-match rows (phrase, form, start, end — the T9 output, i.e.
    exactly what BertSentimentScorer consumes) + ``label`` in the
    reference's polarity indices (bert_dataset.py:9): cue lexicons decide
    positive(0) / negative(1) / conflict(3 — both cues present), everything
    else neutral(2); neutral rows are hash-down-sampled to
    ``neutral_ratio`` x the opinionated count. All JVM-side expressions."""
    toks = F.split(F.lower(F.coalesce(F.col("phrase"), F.lit(""))), r"[^a-z']+")
    pos = F.arrays_overlap(toks, F.array(*[F.lit(w) for w in sorted(positive)]))
    neg = F.arrays_overlap(toks, F.array(*[F.lit(w) for w in sorted(negative)]))
    label = (
        F.when(pos & neg, F.lit(POLARITY_INDICES["conflict"]))
        .when(pos, F.lit(POLARITY_INDICES["positive"]))
        .when(neg, F.lit(POLARITY_INDICES["negative"]))
        .otherwise(F.lit(POLARITY_INDICES["neutral"]))
    )
    labeled = matches.withColumn("label", label)
    neutral = POLARITY_INDICES["neutral"]
    counts = {
        r["neu"]: r["n"]
        for r in labeled.groupBy((F.col("label") == neutral).alias("neu")).agg(F.count("*").alias("n")).collect()
    }
    n_op, n_neu = counts.get(False, 0), counts.get(True, 0)
    if n_neu == 0 or n_op == 0:
        return labeled
    keep_frac = min(1.0, neutral_ratio * n_op / n_neu)
    key = F.concat_ws("#", "phrase", "form", F.col("start").cast("string"))
    return labeled.filter(
        (F.col("label") != neutral) | (_hash_frac(key, "senttrain") < F.lit(keep_frac))
    )


def train_val_split(df: DataFrame, val_frac: float = 0.1) -> tuple[DataFrame, DataFrame]:
    """Deterministic split on a hash of `url` (so sentences of one document
    never straddle the split)."""
    h = _hash_frac(F.concat_ws("#", "url"), "valsplit")
    return df.filter(h >= val_frac), df.filter(h < val_frac)


def _require_torch():  # pragma: no cover - heavy deps absent in CI
    try:
        import torch  # noqa: F401
        import transformers  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "training needs torch + transformers (single fit node); the "
            "distributed training-set construction above runs without them"
        ) from exc


def fit_entity_head(train_pdf, out_path: str):  # pragma: no cover - needs torch
    """Single-node fine-tune of BERT + linear(768->2) on a sampled pandas
    frame (columns masked_tokens, entity_idx, label), with the reference's
    exact schedule: Adam, linear warmup over WARM_UP_FRAC of steps,
    grad-norm clip MAX_GRAD_NORM, CrossEntropyLoss
    (bert_extractor_base.py:72-133). Saves {bert.*, head.*} state dict at
    `out_path` — directly loadable by bert_scorers.BertEntityScorer."""
    _require_torch()
    import torch
    from torch.nn.utils import clip_grad_norm_
    from transformers import AutoModel, AutoTokenizer, get_linear_schedule_with_warmup

    from llm_review_aggregation_spark.functions import bert_scorers as bs

    tokenizer = AutoTokenizer.from_pretrained("bert-base-uncased")
    bert = AutoModel.from_pretrained("bert-base-uncased")
    head = torch.nn.Linear(768, 2)
    device = "cuda" if torch.cuda.is_available() else "cpu"
    bert.to(device)
    head.to(device)
    params = list(bert.parameters()) + list(head.parameters())
    optimiser = torch.optim.Adam(params, lr=LEARNING_RATE)
    n_steps = max(1, (len(train_pdf) // BATCH_SIZE) * N_EPOCHS)
    scheduler = get_linear_schedule_with_warmup(
        optimiser, int(WARM_UP_FRAC * n_steps), n_steps
    )
    loss_fn = torch.nn.CrossEntropyLoss()

    for _epoch in range(N_EPOCHS):
        shuffled = train_pdf.sample(frac=1.0, random_state=_epoch)
        for lo in range(0, len(shuffled), BATCH_SIZE):
            chunk = shuffled.iloc[lo : lo + BATCH_SIZE]
            inputs, enc = bs._encode(tokenizer, list(chunk["masked_tokens"]), device)
            pos = [bs._word_to_token_idx(enc, i, int(w)) for i, w in enumerate(chunk["entity_idx"])]
            target = torch.tensor(list(chunk["label"]), dtype=torch.long, device=device)
            optimiser.zero_grad()
            hidden = bert(**inputs).last_hidden_state
            logits = head(hidden[torch.arange(len(chunk)), pos])
            loss = loss_fn(logits, target)
            loss.backward()
            clip_grad_norm_(params, MAX_GRAD_NORM)
            optimiser.step()
            scheduler.step()

    state = {f"bert.{k}": v for k, v in bert.state_dict().items()}
    state.update({f"head.{k}": v for k, v in head.state_dict().items()})
    torch.save(state, out_path)
    return out_path


def fit_relation_head(train_pdf, out_path: str):  # pragma: no cover - needs torch
    """Single-node fine-tune of BERT + linear(1536->3) over the concat of
    the two mention hidden states (columns masked_tokens, fst_idx, snd_idx,
    label with the 3-class convention of build_relation_training_set). The
    reference reuses the same extractor base loop for relations
    (bert_extractor_base.py:72-133 via relations/run.py:9-41,
    rel_bert_net.py:12-34), so the schedule matches fit_entity_head: Adam,
    linear warmup, grad-norm clip, CrossEntropyLoss. Saves {bert.*, head.*}
    — loadable by bert_scorers.BertRelationScorer."""
    _require_torch()
    import torch
    from torch.nn.utils import clip_grad_norm_
    from transformers import AutoModel, AutoTokenizer, get_linear_schedule_with_warmup

    from llm_review_aggregation_spark.functions import bert_scorers as bs

    tokenizer = AutoTokenizer.from_pretrained("bert-base-uncased")
    bert = AutoModel.from_pretrained("bert-base-uncased")
    head = torch.nn.Linear(1536, 3)
    device = "cuda" if torch.cuda.is_available() else "cpu"
    bert.to(device)
    head.to(device)
    params = list(bert.parameters()) + list(head.parameters())
    optimiser = torch.optim.Adam(params, lr=LEARNING_RATE)
    n_steps = max(1, (len(train_pdf) // RELATION_BATCH_SIZE) * N_EPOCHS)
    scheduler = get_linear_schedule_with_warmup(
        optimiser, int(WARM_UP_FRAC * n_steps), n_steps
    )
    loss_fn = torch.nn.CrossEntropyLoss()

    for _epoch in range(N_EPOCHS):
        shuffled = train_pdf.sample(frac=1.0, random_state=_epoch)
        for lo in range(0, len(shuffled), RELATION_BATCH_SIZE):
            chunk = shuffled.iloc[lo : lo + RELATION_BATCH_SIZE]
            inputs, enc = bs._encode(tokenizer, list(chunk["masked_tokens"]), device)
            p1 = [bs._word_to_token_idx(enc, i, int(w)) for i, w in enumerate(chunk["fst_idx"])]
            p2 = [bs._word_to_token_idx(enc, i, int(w)) for i, w in enumerate(chunk["snd_idx"])]
            target = torch.tensor(list(chunk["label"]), dtype=torch.long, device=device)
            optimiser.zero_grad()
            hidden = bert(**inputs).last_hidden_state
            rng = torch.arange(len(chunk))
            logits = head(torch.cat([hidden[rng, p1], hidden[rng, p2]], dim=-1))
            loss = loss_fn(logits, target)
            loss.backward()
            clip_grad_norm_(params, MAX_GRAD_NORM)
            optimiser.step()
            scheduler.step()

    state = {f"bert.{k}": v for k, v in bert.state_dict().items()}
    state.update({f"head.{k}": v for k, v in head.state_dict().items()})
    torch.save(state, out_path)
    return out_path


# sentiment schedule (bert_analyzer.py:14-16: plain Adam, no warmup/clip)
SENTIMENT_N_EPOCHS = 6
SENTIMENT_LEARNING_RATE = 2e-5


def fit_sentiment_head(train_pdf, out_path: str):  # pragma: no cover - needs torch
    """Single-node fine-tune of BERT + linear(768->4) with max-pooling over
    the target char-span's wordpieces (columns phrase, start, end, label in
    POLARITY_INDICES) — the TDBertNet architecture and pooling
    (tdbertnet.py:10-30) on the reference's sentiment schedule
    (bert_analyzer.py:35-85: Adam lr=2e-5, 6 epochs, CrossEntropyLoss,
    no warmup or gradient clipping). Saves {bert.*, head.*} — loadable by
    bert_scorers.BertSentimentScorer."""
    _require_torch()
    import torch
    from transformers import AutoModel, AutoTokenizer

    from llm_review_aggregation_spark.functions import bert_scorers as bs

    tokenizer = AutoTokenizer.from_pretrained("bert-base-uncased")
    bert = AutoModel.from_pretrained("bert-base-uncased")
    head = torch.nn.Linear(768, 4)
    device = "cuda" if torch.cuda.is_available() else "cpu"
    bert.to(device)
    head.to(device)
    params = list(bert.parameters()) + list(head.parameters())
    optimiser = torch.optim.Adam(params, lr=SENTIMENT_LEARNING_RATE)
    loss_fn = torch.nn.CrossEntropyLoss()

    for _epoch in range(SENTIMENT_N_EPOCHS):
        shuffled = train_pdf.sample(frac=1.0, random_state=_epoch)
        for lo in range(0, len(shuffled), BATCH_SIZE):
            chunk = shuffled.iloc[lo : lo + BATCH_SIZE]
            enc = tokenizer(
                list(chunk["phrase"]),
                truncation=True,
                max_length=bs.MAX_SEQ_LEN,
                padding=True,
                return_tensors="pt",
                return_offsets_mapping=True,
            )
            offsets = enc.pop("offset_mapping")
            inputs = {k: v.to(device) for k, v in enc.items()}
            target = torch.tensor(list(chunk["label"]), dtype=torch.long, device=device)
            optimiser.zero_grad()
            hidden = bert(**inputs).last_hidden_state
            pooled = []
            for i, (s, e) in enumerate(zip(chunk["start"], chunk["end"])):
                om = offsets[i]
                mask = (om[:, 1] > int(s)) & (om[:, 0] < int(e)) & (om[:, 1] > om[:, 0])
                span = hidden[i][mask]
                if span.shape[0] == 0:
                    span = hidden[i][:1]
                pooled.append(span.max(dim=0)[0])
            logits = head(torch.stack(pooled))
            loss = loss_fn(logits, target)
            loss.backward()
            optimiser.step()

    state = {f"bert.{k}": v for k, v in bert.state_dict().items()}
    state.update({f"head.{k}": v for k, v in head.state_dict().items()})
    torch.save(state, out_path)
    return out_path
