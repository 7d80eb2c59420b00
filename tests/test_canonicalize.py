"""Scale-path canonicalization: distributed label propagation + MinHash-LSH
blocking (operators/canonicalize.py)."""

import pytest
from pyspark.sql import functions as F

from llm_review_aggregation_spark.operators import canonicalize as canon


def test_label_propagation_components(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d")], "src string, dst string"
    )
    labels = {r["node"]: r["component"] for r in canon.label_propagation(edges, max_rounds=3).collect()}
    assert labels == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_label_propagation_bounded_rounds(spark):
    # chain a-b-c-d-e: 1 round only merges 1 hop
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"), ("e", "d")], "src string, dst string"
    )
    one = {r["node"]: r["component"] for r in canon.label_propagation(edges, max_rounds=1).collect()}
    assert one["e"] == "d"  # only 1 hop propagated
    full = {r["node"]: r["component"] for r in canon.label_propagation(edges, max_rounds=4).collect()}
    assert set(full.values()) == {"a"}


def test_components_to_synsets_representative(spark):
    labels = spark.createDataFrame(
        [("screen", "display"), ("display", "display")], "node string, component string"
    )
    counts = spark.createDataFrame([("screen", 10), ("display", 3)], "term string, count long")
    out = {(r["concept"], r["member"]) for r in canon.components_to_synsets(labels, counts).collect()}
    # representative = highest count member (screen), not the min label
    assert out == {("screen", "screen"), ("screen", "display")}


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base.replace("today", "tonight")),  # near-dup of 1
        (3, "completely different text about spark shuffles and partitions at scale"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    blocks = canon.minhash_lsh_blocks(df, "text", "id", num_hashes=16, bands=8, shingle_k=2)
    pairs = {(r["a"], r["b"]) for r in canon.near_duplicate_pairs(blocks).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_salt_column(spark):
    df = spark.createDataFrame([(i, "same text everywhere") for i in range(10)], "id long, text string")
    blocks = canon.minhash_lsh_blocks(df, "text", "id", salt_mod=4)
    assert "salt" in blocks.columns
    n_salts = blocks.select("salt").distinct().count()
    assert 1 <= n_salts <= 4


@pytest.mark.parametrize("salt_mod", [2, 4])
def test_sparse_cosine_pairs_salted_join_is_exact(spark, salt_mod):
    """One hot bucket every term shares, plus a few private and partly
    shared ones. Weights are multiples of 1/4, so every dot product is an
    exact float sum whatever order the join's partitions add it in."""
    from llm_review_aggregation_spark.functions import embeddings

    terms = [f"t{i:02d}" for i in range(24)]
    rows = [(t, "hot", 0.25 * (1 + i % 5)) for i, t in enumerate(terms)]
    rows += [(t, f"b{i % 3}", 0.25 * (1 + i % 4)) for i, t in enumerate(terms) if i % 2]
    rows += [(t, f"own{i}", 1.0) for i, t in enumerate(terms) if i % 3 == 0]
    w = spark.createDataFrame(rows, "term string, bucket string, w double")

    def pairs(m):
        out = embeddings.sparse_cosine_pairs(w, 0.5, salt_mod=m).collect()
        return sorted((r["src"], r["dst"], r["cos"]) for r in out)

    plain = pairs(None)
    assert len(plain) > 50
    assert pairs(salt_mod) == plain
