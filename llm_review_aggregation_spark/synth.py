"""Deterministic synthetic `pages` tables (no external data).

Two sources, both emitting the BASELINE.json input_hint schema
``pages(url string, warc_ts timestamp, html binary, text string, lang string)``:

1. ``synthesize_pages_pdf`` — a seeded review-corpus generator with a KNOWN
   ground truth (aspect vocabulary, synonym sets, meronym pairs, sentiment
   cues), used by tests and the benchmark. Sizing mirrors the reference's
   fixture of 10 products / ~1k reviews (FIXTURES.md §1).
2. ``pages_from_documents`` — wraps the driver-provided
   ``/root/testdata/sf*/documents.parquet`` rows into HTML pages, so the
   driver's smoke check runs over its own tables.

Determinism: ``random.Random(str_seed)`` string seeding (sha512-based,
process-stable); no wall-clock anywhere (warc_ts derives from doc ids).
"""

from __future__ import annotations

import datetime as _dt
import random

import pandas as pd

# ---------------------------------------------------------------------------
# Ground-truth vocabulary (the "world" the generator writes about).
# The lexicon scorers (functions/scoring.py) share these tables, which makes
# the deterministic CI pipeline end-to-end meaningful: planted relations are
# recoverable and tests can assert triple P/R against this ground truth.
# ---------------------------------------------------------------------------

ROOT = "camera"

# concept -> synonyms that reviews use interchangeably
SYNONYMS: dict[str, list[str]] = {
    "camera": ["camera", "cam"],
    "battery": ["battery"],
    "screen": ["screen", "display"],
    "lens": ["lens"],
    "zoom": ["zoom"],
    "flash": ["flash"],
    "picture": ["picture", "image", "photo"],
    "autofocus": ["autofocus"],
    "menu": ["menu"],
    "button": ["button"],
    "grip": ["grip"],
    "shutter": ["shutter"],
}

ASPECT_TERMS: list[str] = sorted({t for syns in SYNONYMS.values() for t in syns})

# child concept -> parent concept (the planted meronomy; triples to recover)
MERONYMS: dict[str, str] = {
    "battery": "camera",
    "screen": "camera",
    "lens": "camera",
    "flash": "camera",
    "picture": "camera",
    "menu": "camera",
    "grip": "camera",
    "shutter": "camera",
    "zoom": "lens",
    "autofocus": "lens",
    "button": "menu",
}

# concept-specific context templates ({m} = a synonym mention). Synonyms of
# one concept share contexts, distinct concepts don't — this is what makes
# embedding-based synonym clustering (E5) meaningful on the synthetic corpus.
CONTEXTS: dict[str, list[str]] = {
    "camera": ["took the {m} hiking on vacation.", "the {m} body survived the rain."],
    "battery": ["the {m} lasts nine hours per charge.", "charging the {m} drags overnight."],
    "screen": ["the {m} shows vivid colors under sunlight.", "glare renders the {m} unreadable outdoors."],
    "lens": ["the {m} focuses silently on glass.", "swapping the {m} mount goes smoothly."],
    "zoom": ["the {m} reaches distant birds easily.", "full {m} range magnifies without wobble."],
    "flash": ["the {m} fires evenly across dark rooms.", "red eye from the {m} ruins portraits."],
    "picture": ["every {m} comes out crisp and detailed.", "each {m} prints beautifully at poster dimensions."],
    "autofocus": ["the {m} locks onto faces instantly.", "the {m} tracks runners during races."],
    "menu": ["navigating the {m} layout demands patience.", "the {m} settings hide white balance deep."],
    "button": ["pressing the {m} gives tactile feedback.", "the {m} placement suits small hands."],
    "grip": ["holding the {m} feels secure in winter gloves.", "the rubber {m} texture resists sweat."],
    "shutter": ["the {m} clicks softly at high speed.", "the {m} lag remains unnoticeable in bursts."],
}

POSITIVE = ["great", "excellent", "amazing", "fantastic", "perfect", "superb"]
NEGATIVE = ["terrible", "awful", "disappointing", "useless", "horrible", "unreliable"]
FILLERS = [
    "we bought this last week for our trip.",
    "shipping was quick and the box arrived intact.",
    "my brother uses the same model every day.",
    "overall it does what it promises.",
    "the price seemed fair at the time.",
    "customer service answered within a day.",
]

_BASE_TS = _dt.datetime(2024, 3, 1, tzinfo=_dt.timezone.utc)


def _mention(rng: random.Random, concept: str) -> str:
    return rng.choice(SYNONYMS[concept])


def _review_sentences(rng: random.Random) -> tuple[list[str], float]:
    """Build one review body; returns (sentences, mean_polarity in [-1,1])."""
    sentences: list[str] = []
    polarity_sum = 0.0
    n_opinion = rng.randint(2, 5)
    concepts = [c for c in SYNONYMS if c != ROOT]
    # root-opinion sentence (sole mention) so the root term itself is
    # detectable as an aspect (T7 keeps single-mention sentences only)
    root_adj = rng.choice(POSITIVE if rng.random() < 0.7 else NEGATIVE)
    sentences.append(f"the {_mention(rng, ROOT)} is {root_adj}.")
    polarity_sum += 1.0 if root_adj in POSITIVE else -1.0
    for _ in range(n_opinion):
        c = rng.choice(concepts)
        pos = rng.random() < 0.62
        adj = rng.choice(POSITIVE if pos else NEGATIVE)
        polarity_sum += 1.0 if pos else -1.0
        form = rng.randrange(4)
        m = _mention(rng, c)
        if form == 0:
            sentences.append(f"the {m} is {adj}.")
        elif form == 1:
            sentences.append(f"i think the {m} of this {_mention(rng, ROOT)} is {adj}.")
        elif form == 2:
            sentences.append(f"its {m} works and looks {adj}.")
        else:
            sentences.append(f"such a {adj} {m}.")
    # concept-specific context sentences (embedding signal, no sentiment)
    for _ in range(rng.randint(2, 4)):
        c = rng.choice(list(CONTEXTS))
        sentences.append(rng.choice(CONTEXTS[c]).format(m=_mention(rng, c)))
    # meronym-evidence sentences (both concepts cooccur)
    for _ in range(rng.randint(1, 3)):
        child, parent = rng.choice(list(MERONYMS.items()))
        cm, pm = _mention(rng, child), _mention(rng, parent)
        if rng.random() < 0.5:
            sentences.append(f"the {cm} of the {pm} impressed everyone.")
        else:
            sentences.append(f"this {pm} comes with a {cm} built in.")
    for _ in range(rng.randint(0, 2)):
        sentences.append(rng.choice(FILLERS))
    rng.shuffle(sentences)
    return sentences, polarity_sum / max(n_opinion, 1)


def _wrap_html(rng: random.Random, title: str, sentences: list[str]) -> str:
    """HTML with entities, markup and non-ASCII so E1 cleaning is non-trivial."""
    paras = []
    for s in sentences:
        if rng.random() < 0.2:
            words = s.split(" ")
            k = rng.randrange(len(words))
            words[k] = f"<b>{words[k]}</b>"
            s = " ".join(words)
        if rng.random() < 0.15:
            s = s.replace(" the ", " the&nbsp;", 1)
        paras.append(f"<p>{s}</p>")
    noise = "\n<p>café — résumé &amp; co.</p>" if rng.random() < 0.3 else ""
    return (
        "<html><head><title>"
        + title
        + "</title><style>p{margin:0}</style><script>var x=1;</script></head>\n<body><h1>"
        + title
        + "</h1>\n"
        + "\n".join(paras)
        + noise
        + "\n</body></html>"
    )


def synthesize_pages_pdf(
    n_groups: int = 10, docs_per_group: int = 40, seed: int = 42
) -> pd.DataFrame:
    """Deterministic pandas frame of pages; url encodes (group, doc)."""
    rows = []
    doc_id = 0
    for g in range(n_groups):
        for d in range(docs_per_group):
            rng = random.Random(f"pages:{seed}:{g}:{d}")
            sentences, _pol = _review_sentences(rng)
            title = f"review g{g:05d} r{doc_id:07d}"
            html = _wrap_html(rng, title, sentences)
            rows.append(
                {
                    "url": f"https://example.test/g{g:05d}/r{doc_id:07d}",
                    "warc_ts": _BASE_TS + _dt.timedelta(seconds=doc_id * 37),
                    "html": html.encode("utf-8"),
                    "text": "",
                    "lang": "en",
                }
            )
            doc_id += 1
    return pd.DataFrame(rows)


def synthesize_pages(spark, n_groups: int = 10, docs_per_group: int = 40, seed: int = 42):
    return spark.createDataFrame(synthesize_pages_pdf(n_groups, docs_per_group, seed))


def pages_from_documents(spark, sf_dir: str, replicate: int = 1):
    """Wrap the driver's documents.parquet into the pages schema.

    group id = the `source` column (the product analog); deterministic HTML
    wrapping; warc_ts derived from doc_id. The raw documents text has no
    sentence structure (one endless token stream), which degenerates the
    single-mention sentence miners (T7), so a sentence boundary is inserted
    every 8 words — deterministic, JVM-side.

    ``replicate=R`` scales the corpus Rx for throughput/scaling runs: each
    replica gets its own group namespace (``{source}xR``), so group sizes
    stay constant while doc count grows — the shape a bigger crawl has.
    """
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "text", F.regexp_replace("text", r"((?:\S+\s+){5}\S+)\s+", "$1.\n")
    )
    # the per-sf parquet is a single small file -> 1-2 scan partitions; the
    # downstream E1/E2 pandas UDFs inherit that and would run on 1-2 cores.
    # One cheap shuffle of the small base spreads them across the executor
    # slots (on a cluster the crawl table has real file-level parallelism
    # and this is a no-op sizing choice).
    # one slot-sized partition per core for the small base corpus (5k docs:
    # fewer, larger Arrow batches beat task-count overhead); four per core
    # when replicating — the Rx blow-up happens in place, so each task
    # carries R partitions' worth of rows and with only 2 waves per core a
    # single straggler task costs a whole extra wave; 4 waves keeps the
    # per-task load fine-grained enough that the scheduler absorbs tails
    docs = docs.repartition(
        max(2, spark.sparkContext.defaultParallelism * (4 if replicate > 1 else 1))
    )
    if replicate > 1:
        # the Rx blow-up happens in place after the repartition: the
        # broadcast nested-loop join keeps the stream side's partitioning,
        # so only base rows ever shuffle
        docs = docs.crossJoin(
            F.broadcast(spark.range(replicate).select(F.col("id").alias("_rep")))
        ).withColumn("source", F.concat(F.col("source"), F.lit("x"), F.col("_rep")))
    return docs.select(
        F.concat(F.lit("https://example.test/"), F.col("source"), F.lit("/d"), F.lpad(F.col("doc_id").cast("string"), 9, "0")).alias("url"),
        (F.lit(_BASE_TS.replace(tzinfo=None)) + F.make_interval(secs=F.col("doc_id").cast("double") * 37)).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>doc </title><style>p{margin:0}</style></head><body><h1>doc "),
                F.col("doc_id").cast("string"),
                F.lit("</h1>\n<p>"),
                F.col("text"),
                F.lit("</p>\n</body></html>"),
            ),
            "utf-8",
        ).alias("html"),
        F.lit("").alias("text"),
        F.col("lang"),
    )
