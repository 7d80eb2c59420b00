"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k — broadcast the (small) query
  set against the corpus, JVM-side dot products (zip_with + aggregate,
  whole-stage codegen; no Python in the hot path), windowed top-k.
  The baseline and the verifier for the approximate path.
- ``hyperplane_buckets`` + ``lsh_topk``: random-hyperplane LSH — each
  vector lands in a 2^planes sign bucket; queries probe their bucket plus
  hamming<=probe_hamming neighbors. Bucket assignment is one narrow map;
  the join shuffles on bucket keys only.

Hyperplane coefficients are generated *inside* the column expression from a
seeded hash of (table, plane, component-index), so bucketing needs neither
the vector dimension up front nor any driver-side action — the whole plan
is declared lazily and stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dot_expr(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: str):
    return F.sqrt(
        F.aggregate(F.transform(F.col(a), lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine_expr(a: str, b: str):
    return dot_expr(a, b) / F.greatest(norm_expr(a) * norm_expr(b), F.lit(1e-12))


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, vec_col: str, id_col: str, q_id_col: str, k: int = 10
) -> DataFrame:
    """(q_id, id, cosine, rank) — exact top-k by cosine; ties broken by id
    for determinism. `queries` must be broadcast-small."""
    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("cvec"))
    q = queries.select(F.col(q_id_col).alias("q_id"), F.col(vec_col).alias("qvec"))
    scored = c.crossJoin(F.broadcast(q)).withColumn("cosine", cosine_expr("cvec", "qvec"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "id", "cosine", "rank")
    )


def _plane_coef(plane_key: int, j):
    """Approximately-Gaussian deterministic coefficient for component j of
    hyperplane `plane_key`: sum of 3 independent hashed uniforms on [-1, 1]
    (Irwin-Hall / CLT; variance exactly 1). A Gaussian projection makes the
    sign-LSH collision probability the rotation-invariant 1 - theta/pi;
    a plain uniform draw would bias bucket recall for vectors aligned with
    the coordinate axes. Still a pure column expression — no dimension or
    driver-side action needed at plan time.

    The hash is the first 8 hex digits of md5("lsh:{plane_key}:{r}:{j}")
    rather than Spark's Murmur3 so a SQL oracle (DuckDB md5) can regenerate
    the exact same hyperplanes — this is what makes `lsh_ann_topk`
    oracle-checkable end to end."""

    def _u(r: int):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit("lsh"), F.lit(str(plane_key)), F.lit(str(r)), j.cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        return (F.pmod(h, F.lit(2_000_001)) / F.lit(1_000_000.0)) - F.lit(1.0)

    return _u(0) + _u(1) + _u(2)


def _bucket_expr(vec_col: str, planes: int, seed: int):
    def _proj_lambda(plane_key: int):
        return lambda x, j: x * _plane_coef(plane_key, j)

    bucket = F.lit(0)
    for p in range(planes):
        proj = F.aggregate(
            F.transform(F.col(vec_col), _proj_lambda(seed * 7919 + p)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(2**p)).otherwise(F.lit(0))
    return bucket


def hyperplane_buckets(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes: int = 12,
    probe_hamming: int = 0,
    tables: int = 1,
) -> DataFrame:
    """(id, bucket). `tables` independent hash tables (hyperplane sets
    seeded 42, 1042, 2042, ...) trade index size for recall; bucket ids are namespaced
    per table so the downstream join stays a single equi-join. With
    probe_hamming=h > 0, each row is additionally replicated into every
    bucket within hamming distance h of its own (multi-probe on the *index*
    side keeps the query-side join plain)."""
    per_table = []
    for t in range(tables):
        per_table.append(_bucket_expr(vec_col, planes, 42 + 1000 * t) + F.lit(t * 2**planes))
    out = df.select(
        F.col(id_col).alias("id"), F.explode(F.array(*per_table)).alias("bucket0")
    )
    if probe_hamming <= 0:
        return out.select("id", F.col("bucket0").alias("bucket"))
    flips = [0] + [2**i for i in range(planes)]
    if probe_hamming >= 2:
        flips += [2**i + 2**j for i in range(planes) for j in range(i + 1, planes)]
    return out.select(
        "id",
        F.explode(F.array(*[F.col("bucket0").bitwiseXOR(F.lit(fl)) for fl in flips])).alias("bucket"),
    ).distinct()




def ivf_centroids(
    corpus: DataFrame, vec_col: str, id_col: str, nlist: int, salt: str = ""
) -> list[list[float]]:
    """Deterministic coarse quantizer: the `nlist` corpus vectors with the
    smallest md5('ivf:' + salt + id) (a seeded uniform sample — IVF-flat
    needs spread, not optimal k-means cells; sampled centroids are the
    standard cheap initializer and keep the whole index build reproducible
    with zero iterative driver loops). One small collect of nlist rows.
    `salt` (e.g. "1:") draws an independent centroid sample per hash table
    for the amplified near-dup join; "" reproduces the original sample."""
    rows = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("_h", F.md5(F.concat(F.lit("ivf:" + salt), F.col("id").cast("string"))))
        .orderBy("_h")
        .limit(nlist)
        .collect()
    )
    return [[float(x) for x in r["v"]] for r in rows]


def ivf_assign(df: DataFrame, vec_col: str, id_col: str, centroids: list[list[float]], nprobe: int = 1) -> DataFrame:
    """(id, cell): each vector lands in its `nprobe` nearest cells (by
    cosine; ties broken toward the larger cell index). nprobe=1 builds the
    index side; nprobe>1 is query-side multi-probing.

    Relational form: vectors x broadcast(centroid table) scored with one
    zip_with fold, then a per-id window takes the top nprobe cells. The
    per-centroid-literal expression tree this replaces cost ~16s of
    analysis/codegen per call at nlist=128 (8k+ literal nodes); this plan
    is constant-size regardless of nlist. The vector column is dropped
    before the rank, so the window's shuffle moves only (id, cell, score)
    triples — n x nlist small rows. At extreme corpus scale swap in a
    per-partition Arrow matmul (mapInPandas) to skip that shuffle; at the
    gate scales the relational plan is already ~10x faster end-to-end."""
    return ivf_assign_ranked(df, vec_col, id_col, centroids, nprobe).select("id", "cell")


def ivf_assign_ranked(
    df: DataFrame, vec_col: str, id_col: str, centroids: list[list[float]], nprobe: int = 1
) -> DataFrame:
    """(id, cell, rk) with rk = 1..nprobe by descending cosine — one
    scoring pass serves both index-side (rk = 1 is the home cell) and
    query-side multi-probe, so callers needing both rank once."""
    cent = df.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, cvec array<double>",
    )
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
    scored = v.crossJoin(F.broadcast(cent)).select(
        "id", "cell", cosine_expr("_v", "cvec").alias("_s")
    )
    w = Window.partitionBy("id").orderBy(F.desc("_s"), F.desc("cell"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= nprobe)
        .select("id", "cell", "rk")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    q_id_col: str,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-flat approximate top-k: coarse-quantize the corpus into `nlist`
    inverted lists (one cell per vector), probe each query's `nprobe`
    nearest cells, exact cosine re-rank inside the probed lists. The join
    shuffles on cell ids only; scanned fraction ~= nprobe/nlist of the
    corpus per query — the complementary scale path to `lsh_topk` (IVF
    wins when the corpus clusters; sign-LSH wins on isotropic data)."""
    cents = ivf_centroids(corpus, vec_col, id_col, nlist)
    cb = ivf_assign(corpus, vec_col, id_col, cents, nprobe=1)
    qb = ivf_assign(queries, vec_col, q_id_col, cents, nprobe=nprobe).withColumnRenamed("id", "q_id")
    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("cvec"))
    q = queries.select(F.col(q_id_col).alias("q_id"), F.col(vec_col).alias("qvec"))
    cand = cb.join(qb, "cell").select("q_id", "id").distinct()
    scored = (
        cand.join(c, "id")
        .join(F.broadcast(q), "q_id")
        .withColumn("cosine", cosine_expr("cvec", "qvec"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "id", "cosine", "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    q_id_col: str,
    k: int = 10,
    planes: int = 8,
    probe_hamming: int = 1,
    tables: int = 4,
) -> DataFrame:
    """Approximate top-k: bucket-joined candidates, exact cosine re-rank.
    Fully lazy — no driver-side action before the plan executes."""
    cb = hyperplane_buckets(corpus, vec_col, id_col, planes, probe_hamming, tables=tables)
    qb = hyperplane_buckets(queries, vec_col, q_id_col, planes, 0, tables=tables).withColumnRenamed(
        "id", "q_id"
    )
    c = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("cvec"))
    q = queries.select(F.col(q_id_col).alias("q_id"), F.col(vec_col).alias("qvec"))
    cand = cb.join(qb, "bucket").select("q_id", "id").distinct()
    scored = (
        cand.join(c, "id")
        .join(F.broadcast(q), "q_id")
        .withColumn("cosine", cosine_expr("cvec", "qvec"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "id", "cosine", "rank")
    )
