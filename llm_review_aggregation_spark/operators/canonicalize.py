"""Scale-path entity canonicalization: distributed connected components
(iterative min-label propagation) + MinHash-LSH blocking for entity linking.

The driver-exact clustering in operators/concepts.py is the parity path for
dictionaries <= config.max_driver_cluster_terms. At web scale the synonym
dictionary is unbounded, so:

- ``label_propagation(edges)``: GraphFrames-style connected components on
  plain DataFrames — each round joins node labels to edges and takes the
  min label over the <=1-hop neighborhood; k rounds == the reference's
  bounded-k connectivity (synset_extractor.py:27-49 generalized). Labels
  are strings; min is lexicographic, deterministic. localCheckpoint every
  round truncates lineage so plans don't snowball.
- ``minhash_lsh_blocks(df, text_col, ...)``: shingle -> minhash -> band ->
  bucket rows so candidate pairs only form within buckets (the north-star
  "MinHash-LSH blocking + salted join entity linking"). A salt column
  caps hot buckets.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from llm_review_aggregation_spark.session import local_table

# hashed context buckets of the co-occurrence vectors (cluster_synsets_scale)
_COOC_DIM = 4096


def label_propagation(edges: DataFrame, max_rounds: int = 3) -> DataFrame:
    """edges(src string, dst string), undirected -> (node, component).

    component = min node id reachable within `max_rounds` hops (for
    max_rounds >= graph diameter this is exact connected components).
    """
    sym = edges.select("src", "dst").union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = sym.distinct().cache()
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    for _ in range(max_rounds):
        neigh = (
            sym.join(labels, sym["dst"] == labels["node"])
            .select(F.col("src").alias("node"), "component")
        )
        new_labels = (
            labels.select("node", "component")
            .union(neigh)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        labels = new_labels.localCheckpoint(eager=True)
    sym.unpersist()
    return labels


def cluster_synsets_scale(
    spark,
    sentences: DataFrame,
    counts: dict[str, int],
    root_name: str,
    similarity_threshold: float,
    num_levels: int = 3,
    window: int = 4,
) -> tuple[dict[str, int], dict[str, list[str]]]:
    """E5 at scale: distributed synonym canonicalization for dictionaries too
    large for the driver-exact G1 replica (north star: "connected-components
    canonicalization — iterative label propagation on DataFrames").

    Dataflow (one shuffle per step, no driver n^2):

        sentences --cooccurrence (mapInPandas + groupBy)--> (term,bucket,count)
          --ppmi_weights (3 broadcast-joined aggregates)--> (term,bucket,w)
          --sparse_cosine_pairs (bucket join)--> are_syns edges (cos >= tau)
          --union lemma-equality edges--> edge set
          --label_propagation (num_levels rounds = G1's bounded-hop CC,
            synset_extractor.py:27-49)--> (node, component)
          --components_to_synsets--> representative = max-count member
            (synset_extractor.py:103); root forced representative (:105-110)

    Differences vs the driver-exact path (documented parity trade, SURVEY §7
    R3/G1): plain cosine replaces relative-cosine similarity, and greedy
    clique ranking degenerates to connected components — exact replication of
    tie-broken clique picking is inherently sequential. The parity gates run
    the driver path; this path is for dictionaries >> top-k.
    """
    from llm_review_aggregation_spark import textproc as tp
    from llm_review_aggregation_spark.functions import embeddings

    terms = list(counts)
    cooc = embeddings.cooccurrence_counts(sentences, terms, window, _COOC_DIM)
    w = embeddings.ppmi_weights(cooc)
    edges = embeddings.sparse_cosine_pairs(w, similarity_threshold).select("src", "dst")

    # lemma-equal terms are synonyms by definition (word_vectoriser_base.py:
    # 77-108 returns similarity 1.0); chain each lemma group with n-1 edges
    by_lemma: dict[str, list[str]] = {}
    for t in terms:
        by_lemma.setdefault(tp.lemmatize_simple(t), []).append(t)
    lemma_edges = [
        (grp[i], grp[i + 1]) for grp in by_lemma.values() for i in range(len(grp) - 1)
    ]
    if lemma_edges:
        edges = edges.union(local_table(spark, lemma_edges, "src string, dst string"))

    labels = label_propagation(edges, max_rounds=num_levels)
    counts_df = local_table(spark, list(counts.items()), "term string, count long")
    full = (
        counts_df.select(F.col("term").alias("node"))
        .join(labels, "node", "left")
        .withColumn("component", F.coalesce("component", "node"))
    )
    rows = components_to_synsets(full, counts_df).collect()

    synsets: dict[str, list[str]] = {}
    for r in rows:
        synsets.setdefault(r["concept"], []).append(r["member"])
    # root override: the root concept must represent its own component
    if root_name in counts:
        holder = next((c for c, ms in synsets.items() if root_name in ms), None)
        if holder is not None and holder != root_name:
            synsets[root_name] = synsets.pop(holder)
    synsets = {c: sorted(ms) for c, ms in synsets.items()}
    synset_counts = {c: sum(counts.get(m, 0) for m in ms) for c, ms in synsets.items()}
    return synset_counts, synsets


def components_to_synsets(labels: DataFrame, counts: DataFrame) -> DataFrame:
    """(node, component) + (term, count) -> (concept, member, count) where
    concept = the component's highest-count member (lexicographic tiebreak)
    — the distributed analog of the representative pick in
    operators/concepts.py."""
    withc = labels.join(counts, labels["node"] == counts["term"], "left").select(
        "node", "component", F.coalesce("count", F.lit(0)).alias("count")
    )
    rep = withc.groupBy("component").agg(
        F.expr("min_by(node, struct(-count, node))").alias("concept")
    )
    return (
        withc.join(rep, "component")
        .select(F.col("concept"), F.col("node").alias("member"), F.col("count"))
    )


# ---------------------------------------------------------------------------
# MinHash-LSH blocking
# ---------------------------------------------------------------------------


_SHINGLE_CACHE: dict[str, int] = {}


def _shingle_hash64(s: str) -> int:
    h = _SHINGLE_CACHE.get(s)
    if h is None:
        h = int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
        if len(_SHINGLE_CACHE) < 1_000_000:
            _SHINGLE_CACHE[s] = h
    return h


@functools.lru_cache(maxsize=8)
def _perm_constants(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    rs = np.random.RandomState(1_234_567)
    a = rs.randint(1, 2**62, size=num_hashes, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rs.randint(0, 2**62, size=num_hashes, dtype=np.uint64)
    return a, b


def _minhash_signature(text: str, num_hashes: int, shingle_k: int) -> list[int]:
    """min over shingles of num_hashes universal hashes. One md5 per shingle
    (cached — shingle space is bounded on natural text), then vectorized
    odd-multiplier permutations `a*h+b mod 2^64` — same LSH guarantees as
    per-(hash, shingle) digests at a fraction of the cost."""
    toks = text.split()
    if len(toks) < shingle_k:
        shingles = {" ".join(toks)} if toks else {""}
    else:
        shingles = {" ".join(toks[i : i + shingle_k]) for i in range(len(toks) - shingle_k + 1)}
    base = np.fromiter((_shingle_hash64(s) for s in shingles), dtype=np.uint64, count=len(shingles))
    a, b = _perm_constants(num_hashes)
    with np.errstate(over="ignore"):
        vals = a[:, None] * base[None, :] + b[:, None]  # uint64 wrap-around
    return [int(v) for v in vals.min(axis=1)]


def make_minhash_udf(num_hashes: int, shingle_k: int):
    @pandas_udf(ArrayType(LongType()))
    def minhash_udf(text: pd.Series) -> pd.Series:
        return text.map(lambda t: [v - 2**63 for v in _minhash_signature(t or "", num_hashes, shingle_k)])

    return minhash_udf


def minhash_lsh_blocks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    salt_mod: int | None = None,
) -> DataFrame:
    """rows -> (id, band, bucket[, salt]) block assignments. Rows sharing
    (band, bucket) are near-duplicate candidates; join within blocks only.

    `salt_mod` splits hot buckets into `salt_mod` sub-buckets by id hash —
    the salted-join half of the north-star entity-linking recipe (bounded
    loss: pairs across salts of one bucket are missed; callers that need
    exactness re-check with one extra pass on oversized buckets).
    """
    rows_per_band = num_hashes // bands
    sig = make_minhash_udf(num_hashes, shingle_k)
    out = df.select(F.col(id_col).alias("id"), sig(F.col(text_col)).alias("sig"))
    band_cols = [
        F.hash(F.slice("sig", b * rows_per_band + 1, rows_per_band)).alias(f"b{b}")
        for b in range(bands)
    ]
    out = out.select("id", F.posexplode(F.array(*band_cols)).alias("band", "bucket"))
    if salt_mod:
        out = out.withColumn("salt", F.pmod(F.hash("id"), F.lit(salt_mod)))
    return out


def near_duplicate_pairs(blocks: DataFrame) -> DataFrame:
    """(band, bucket) self-join -> distinct candidate pairs (a < b)."""
    left = blocks.select(F.col("band"), F.col("bucket"), F.col("id").alias("a"))
    right = blocks.select(F.col("band"), F.col("bucket"), F.col("id").alias("b"))
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
