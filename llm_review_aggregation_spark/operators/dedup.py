"""Deduplication operators for web-scale corpora.

- exact:            fingerprint (md5 of normalized text) -> hash groupBy
- minhash + LSH:    shingle -> minhash -> band -> bucket join (blocking),
                    verified by token-set Jaccard (JVM array ops)
- simhash:          64-bit simhash, banded into 4x16-bit keys; candidates
                    share a band, verified by hamming distance <= k
- n-gram Jaccard:   direct verification predicate over token shingles
- embedding cosine: near-dup pairs via random-hyperplane LSH buckets
                    (operators/simsearch.py) verified by cosine >= tau

Scale notes: every method is blocked — no all-pairs joins. Exact dedup is
one shuffle on the fingerprint; LSH methods shuffle on (band, bucket) keys,
with a salt option for pathological buckets (canonicalize.minhash_lsh_blocks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_review_aggregation_spark.functions import textstats
from llm_review_aggregation_spark.operators import canonicalize, simsearch


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(fingerprint, n_docs, keep_id) for every duplicated fingerprint."""
    fp = df.select(F.col(id_col).alias("id"), textstats.fingerprint(F.col(text_col)).alias("fingerprint"))
    return (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per fingerprint (deterministic survivor)."""
    fp = df.withColumn("_fp", textstats.fingerprint(F.col(text_col)))
    keep = fp.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return fp.join(keep, [ "_fp", id_col]).drop("_fp")


# ---------------------------------------------------------------------------
# token-shingle Jaccard (verification predicate + direct small-scale op)
# ---------------------------------------------------------------------------


def _shingles(text_col, k: int):
    toks = textstats.tokens_col(text_col)
    n = F.size(toks)
    return F.when(n >= k, F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        )
    )).otherwise(F.array(F.array_join(toks, " ")))


def jaccard_pairs(df: DataFrame, text_col: str, id_col: str, k: int = 3, threshold: float = 0.8,
                  blocks: DataFrame | None = None) -> DataFrame:
    """Near-duplicate pairs (a, b, jaccard). When `blocks` (from
    minhash_lsh_blocks) is given, only blocked candidate pairs are verified —
    the scale path. Without it, verification joins all pairs (test scale)."""
    sh = df.select(F.col(id_col).alias("id"), _shingles(F.col(text_col), k).alias("sh"))
    if blocks is not None:
        cand = canonicalize.near_duplicate_pairs(blocks)
    else:
        left = sh.select(F.col("id").alias("a"))
        right = sh.select(F.col("id").alias("b"))
        cand = left.crossJoin(right).filter(F.col("a") < F.col("b"))
    a = sh.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    # sound prefilter: J >= t requires min(|A|,|B|) >= t*max(|A|,|B|)
    na, nb = F.size("sh_a"), F.size("sh_b")
    return (
        cand.join(a, "a")
        .join(b, "b")
        .filter(F.least(na, nb) >= F.lit(threshold) * F.greatest(na, nb))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1)),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def jaccard_pairs_bitset(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str | None = None,
    threshold: float = 0.5,
    max_vocab: int = 4096,
) -> DataFrame:
    """Exact token-set Jaccard pairs via packed bitsets — the fast path for
    bounded-vocabulary corpora (templated logs, token-id streams, controlled
    schemas), where token-rarity blocking cannot prune (every token is
    frequent).

    Each document's distinct token set becomes ceil(|V|/64) longs; the pair
    predicate is sum(bit_count(a&b)) / sum(bit_count(a|b)) — whole-stage
    codegen, ~2 longs of state per doc instead of a string array. Exact:
    identical output to the array_intersect formulation, so the same SQL
    oracle applies.

    Scale shape: token ids come from a broadcast-hash join against the tiny
    vocab table (no per-row linear scan over a vocab-sized literal), and the
    candidate join runs over DISTINCT signatures, not documents — a bounded
    vocabulary bounds the number of distinct token sets, so replicated /
    templated docs collapse before the quadratic step. Pairs are expanded
    back from the signature groups afterwards (identical-signature groups
    emit their internal pairs at J=1.0 directly; the output itself is the
    only quadratic term left, and that's inherent to pair semantics).

    One tiny driver action discovers the vocabulary (sorted, ≤ max_vocab
    rows); raises if |V| > max_vocab — open-vocabulary webtext must use
    `jaccard_pairs` with LSH/prefix blocking instead, where Zipfian rarity
    makes blocking effective.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    toks_expr = F.array_distinct(textstats.tokens_col(F.col(text_col)))
    vocab = sorted(
        r["t"]
        for r in df.select(F.explode(toks_expr).alias("t")).distinct().collect()
    )
    if len(vocab) > max_vocab:
        raise ValueError(
            f"vocabulary {len(vocab)} exceeds max_vocab={max_vocab}; use "
            "jaccard_pairs with blocking for open-vocabulary corpora"
        )
    nchunks = max(1, (len(vocab) + 63) // 64)
    spark = df.sparkSession
    vocab_df = spark.createDataFrame(
        [(t, i) for i, t in enumerate(vocab)], "t string, tid int"
    )
    # 1 << i as signed-long literals (shiftleft() takes only literal counts)
    pow2 = F.array(*[F.lit((1 << i) if i < 63 else -(2**63)).cast("long") for i in range(64)])
    gcols = [F.col(group_col).alias("g")] if group_col else []
    gkey = ["g"] if group_col else []

    # token -> id via broadcast hash join (O(1) per token); docs with zero
    # tokens drop out here, which is exact for threshold > 0: an empty set's
    # jaccard with anything (itself included) is 0/max(union,1) = 0.
    toks = df.select(*gcols, F.col(id_col).alias("id"), F.explode(toks_expr).alias("t"))
    mapped = toks.join(F.broadcast(vocab_df), "t")
    bitval = F.element_at(pow2, (F.col("tid") % 64).cast("int") + 1)
    mask_aggs = [
        F.bit_or(
            F.when((F.col("tid") >= c * 64) & (F.col("tid") < (c + 1) * 64), bitval)
            .otherwise(F.lit(0).cast("long"))
        ).alias(f"m{c}")
        for c in range(nchunks)
    ]
    packed = mapped.groupBy(*gkey, "id").agg(*mask_aggs)

    # Collapse identical signatures: the candidate join is quadratic in
    # DISTINCT (group, mask...) signatures only.
    mcols = [f"m{c}" for c in range(nchunks)]
    sigs = packed.groupBy(*gkey, *mcols).agg(
        F.sort_array(F.collect_list("id")).alias("ids"),
        F.min("id").alias("rep"),
    )

    # Within-signature pairs: identical token sets, J = 1.0 exactly.
    n_ids = F.size("ids")
    within_pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.greatest(n_ids - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    within = (
        sigs.filter(n_ids > 1)
        .select(*gkey, F.explode(within_pairs).alias("p"))
        .select(*gkey, F.col("p.a").alias("a"), F.col("p.b").alias("b"),
                F.lit(1.0).alias("jaccard"))
    )

    # Cross-signature pairs: join distinct signatures (ordered by their
    # min-id representative so each unordered signature pair appears once),
    # verify with the bitset predicate, then expand member pairs.
    a = sigs.select(
        *gkey, F.col("rep").alias("ra"), F.col("ids").alias("ids_a"),
        *[F.col(m).alias(f"a{c}") for c, m in enumerate(mcols)],
    )
    b = sigs.select(
        *gkey, F.col("rep").alias("rb"), F.col("ids").alias("ids_b"),
        *[F.col(m).alias(f"b{c}") for c, m in enumerate(mcols)],
    )
    inter = sum(
        (F.bit_count(F.col(f"a{c}").bitwiseAND(F.col(f"b{c}"))) for c in range(nchunks)),
        F.lit(0),
    )
    union = sum(
        (F.bit_count(F.col(f"a{c}").bitwiseOR(F.col(f"b{c}"))) for c in range(nchunks)),
        F.lit(0),
    )
    cross = (
        a.join(b, gkey if group_col else F.lit(True))
        .filter(F.col("ra") < F.col("rb"))
        .withColumn("jaccard", inter / F.greatest(union, F.lit(1)))
        .filter(F.col("jaccard") >= threshold)
        .select(*gkey, F.explode("ids_a").alias("ia"), F.col("ids_b"), "jaccard")
        .select(*gkey, "ia", F.explode("ids_b").alias("ib"), "jaccard")
        .select(
            *gkey,
            F.least("ia", "ib").alias("a"),
            F.greatest("ia", "ib").alias("b"),
            "jaccard",
        )
    )
    keep = gkey + ["a", "b", "jaccard"]
    return cross.select(*keep).unionByName(within.select(*keep))


def minhash_near_duplicates(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.8,
) -> DataFrame:
    """The full scale recipe: LSH blocking (16 hashes in 4 bands over
    3-shingles) then Jaccard verification."""
    blocks = canonicalize.minhash_lsh_blocks(df, text_col, id_col, 16, 4, 3)
    return jaccard_pairs(df, text_col, id_col, 3, threshold, blocks=blocks)


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def simhash_near_duplicates(df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3) -> DataFrame:
    """Banded simhash: 4 bands of 16 bits; near-dups (hamming <= k over 64
    bits) must collide on >= 1 band when k < 4 (pigeonhole)."""
    sh = df.select(F.col(id_col).alias("id"), textstats.simhash_udf(F.col(text_col)).alias("sim"))
    banded = sh.select(
        "id",
        "sim",
        F.posexplode(
            F.array(*[F.shiftrightunsigned(F.col("sim"), b * 16).bitwiseAND(F.lit(0xFFFF)) for b in range(4)])
        ).alias("band", "key"),
    )
    left = banded.select("band", "key", F.col("id").alias("a"), F.col("sim").alias("sim_a"))
    right = banded.select("band", "key", F.col("id").alias("b"), F.col("sim").alias("sim_b"))
    cand = (
        left.join(right, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sim_a", "sim_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.withColumn("hamming", hamming).filter(F.col("hamming") <= max_hamming).select("a", "b", "hamming")


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_duplicates_exact(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.95
) -> DataFrame:
    """All-pairs exact cosine near-dup — the verification baseline for the
    LSH path below (and the oracle-checkable semantics). JVM-side dot
    products; quadratic, so test/verify scale only."""
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    a = vecs.select(F.col("id").alias("a"), F.col("vec").alias("va"))
    b = vecs.select(F.col("id").alias("b"), F.col("vec").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine", simsearch.cosine_expr("va", "vb"))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def _verify_cosine_pairs(df: DataFrame, vec_col: str, id_col: str,
                         cand: DataFrame, threshold: float) -> DataFrame:
    """Exact-cosine verification of a candidate (a, b) table."""
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    va = vecs.select(F.col("id").alias("a"), F.col("vec").alias("va"))
    vb = vecs.select(F.col("id").alias("b"), F.col("vec").alias("vb"))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn("cosine", simsearch.cosine_expr("va", "vb"))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


# below this cosine threshold, sign-LSH barely prunes (collision probability
# 1 - theta/pi tends to 1/2 as cosine -> 0: at tau=0.35 a measured ~2.3x on
# the sf0.1 embeddings) while amplified IVF home-vs-probe pairing still cuts
# candidates by >5x — so the auto route switches generators there.
IVF_ROUTE_THRESHOLD = 0.6


def embedding_near_duplicates_ivf(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.35,
    nlist: int = 256, nprobe: int = 88, tables: int = 4,
) -> DataFrame:
    """AND-amplified IVF candidates verified by exact cosine — the scale
    path for LOOSE similarity joins (low thresholds), where sign-LSH bucket
    collision odds approach a coin flip. Per hash table t (an independent
    md5-salted centroid sample), candidate generation is ASYMMETRIC: every
    vector is indexed under its single nearest cell (home) and probes its
    `nprobe` nearest cells; a table-t collision means either endpoint's home
    cell is among the other's probed cells. A pair graduates to exact-cosine
    verification only when it collides in all `tables` tables — the classic LSH AND-construction, which
    sharpens the single-table collision curve: per-table recall^T falls far
    slower than per-table noise-rate^T because true pairs collide with
    probability ~0.95 per table at these settings while random pairs sit
    near 0.65.

    Tuned on the driver's embeddings tables at tau=0.35 (deterministic
    md5-seeded centroids, exact-reproducible): nlist=256, nprobe=88, 4-of-4
    gives recall 0.841 with candidate prune 5.56x vs all-pairs at sf0.1
    (recall 0.961 / 0.945 at sf0.001 / sf0.01) — the single-table
    (128, 10) scheme this replaces measured recall 0.56 at prune 7.1x.
    Shuffle shape per table: one window rank over n*nlist skinny rows, one
    equi-join on cell; the cross-table vote is one groupBy over the skinny
    (a, b, t) pair stream (2 ints per row — far narrower than the verified
    join, which carries two dim-d vectors). Recall < 1 by construction —
    containment vs embedding_near_duplicates_exact is pytest-enforced. At
    corpus scale pick nlist ~ sqrt(n) so centroid count and cell occupancy
    grow together; drop `tables` to trade cost for recall."""
    cand = ivf_candidate_pairs(df, vec_col, id_col, nlist, nprobe, tables)
    return _verify_cosine_pairs(df, vec_col, id_col, cand, threshold)


def ivf_candidate_pairs(
    df: DataFrame, vec_col: str, id_col: str,
    nlist: int = 256, nprobe: int = 88, tables: int = 4,
) -> DataFrame:
    """The (a, b) candidate set the amplified IVF near-dup join verifies —
    exposed so tests and capacity planning can measure prune (all-pairs /
    candidates) independently of the exact-cosine verification step.

    The result is an eager ``localCheckpoint``: the whole candidate
    computation runs when this function is called, not when the returned
    DataFrame is first used, and its blocks live only in executor storage.
    It has no lineage to recompute from, so losing an executor that holds
    one of its blocks fails the queries that read it; call again to rebuild."""
    per_table = []
    cached = []
    for t in range(tables):
        salt = "" if t == 0 else f"{t}:"  # table 0 = the original unsalted sample
        cents = simsearch.ivf_centroids(df, vec_col, id_col, nlist, salt=salt)
        # one scoring/ranking pass: home cell = rank 1 of the same ranking
        # the probe set comes from. The probe and home sides below reference
        # it as TWO subtrees, and Spark's exchange reuse does NOT fire here
        # (verified: the 2-table executed plan shows 0 ReusedExchange and 2
        # scoring joins per table) — so cache the skinny (id, cell, rk)
        # table (n*nprobe rows, 3 ints) to run the n*nlist scoring pass
        # once per table, not twice.
        ranked = simsearch.ivf_assign_ranked(df, vec_col, id_col, cents, nprobe=nprobe).cache()
        cached.append(ranked)
        p = ranked.select("cell", F.col("id").alias("a"))
        h = ranked.filter(F.col("rk") == 1).select("cell", F.col("id").alias("b"))
        per_table.append(
            p.join(h, "cell")
            .filter(F.col("a") != F.col("b"))
            .select(
                F.least(F.col("a"), F.col("b")).alias("a"),
                F.greatest(F.col("a"), F.col("b")).alias("b"),
            )
            .distinct()
            .withColumn("t", F.lit(t))
        )
    votes = per_table[0]
    for part in per_table[1:]:
        votes = votes.unionByName(part)
    cand = (
        votes.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_nt"))
        .filter(F.col("_nt") >= tables)
        .select("a", "b")
    )
    try:
        # materialize the skinny (a, b) candidate set now so the per-table
        # caches can be released deterministically before returning (no
        # cached blocks leak past this call); downstream verification then
        # joins against this checkpointed set
        return cand.localCheckpoint(eager=True)
    finally:
        for r in cached:
            r.unpersist()


def embedding_near_duplicates(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.95,
    planes: int = 12, probe_hamming: int = 1, tables: int = 1,
    nlist: int = 256, nprobe: int = 88, ivf_tables: int = 4, method: str = "auto",
) -> DataFrame:
    """Blocked cosine near-dup pairs, verified by exact cosine. Candidate
    generation routes by regime (method="auto"):

    - threshold >= IVF_ROUTE_THRESHOLD: random-hyperplane sign-LSH buckets —
      collision probability 1 - theta/pi is high for genuine near-dups, so
      tight thresholds prune hard; `tables` buys recall for index size.
    - threshold < IVF_ROUTE_THRESHOLD: AND-amplified IVF home-vs-probe pairs
      (embedding_near_duplicates_ivf) — at loose thresholds sign-LSH
      collision odds approach 1/2 and buckets stop pruning, while requiring
      a collision in all `ivf_tables` independent IVF tables
      holds recall >= 0.84 at >5x candidate prune (measured, sf0.1).

    Either way candidates are bucket/cell-joined only (never all-pairs) and
    recall < 1 by construction — cross-validate against
    embedding_near_duplicates_exact at test scale."""
    if method not in ("auto", "lsh", "ivf"):
        raise ValueError(f"unknown method {method!r}")
    if method == "ivf" or (method == "auto" and threshold < IVF_ROUTE_THRESHOLD):
        return embedding_near_duplicates_ivf(
            df, vec_col, id_col, threshold, nlist=nlist, nprobe=nprobe,
            tables=ivf_tables,
        )
    buckets = simsearch.hyperplane_buckets(
        df, vec_col, id_col, planes=planes, probe_hamming=probe_hamming, tables=tables
    )
    a = buckets.select(F.col("bucket"), F.col("id").alias("a"))
    b = buckets.select(F.col("bucket"), F.col("id").alias("b"))
    cand = a.join(b, "bucket").filter(F.col("a") < F.col("b")).select("a", "b").distinct()
    return _verify_cosine_pairs(df, vec_col, id_col, cand, threshold)
