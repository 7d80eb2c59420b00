"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship — the full KG-construction pipeline
  (extract -> aspects -> canonicalize -> relations -> argumentation ->
  triples) over pages derived from /root/testdata/sf0.001.
- ``queries()``: one callable per implemented operator family
  (SURVEY.md §2 + the corpus ops), each (spark, sf_dir) -> DataFrame.
  36 queries: 34 oracle-backed, 2 rows-only (kg_triples / kg_triples_pr —
  full-pipeline semantics; kg_triples_pr carries the north rule's triple
  P/R gate as data, and both are gated by the loop-based-oracle
  differential suite instead).
- ``oracle_sql()``: DuckDB-equivalent SQL per query where the semantics are
  ANSI-SQL-expressible — including minhash_pairs / dedup_components (the
  LSH blocking is verified by true Jaccard, so the exact pair set is the
  oracle) and streaming_hourly (tumbling windows == the batch rollup).
  Even simhash_pairs is oracle-backed: sound banding makes the engine
  output equal ALL hamming<=3 pairs, and the md5-majority simhash is
  computable from first principles in SQL. Round 5 converted the last two
  convertible run-artifact queries: kg_judge_scores (the judge S-curve
  restated from first principles over the pinned deterministic edge set)
  and kg_lineage (the deterministic expected stage table). Only the
  full-pipeline queries (kg_triples, kg_triples_pr) remain rows-only by
  design: their expected side is a complete pipeline replay, which the
  pytest differential suite gates instead.

Column names are aliased identically on both sides; float aggregates go
through DECIMAL(18,4) for order-independent exact sums, or are rounded to a
fixed scale, so value hashes match bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from llm_review_aggregation_spark import synth
from llm_review_aggregation_spark.config import PipelineConfig
from llm_review_aggregation_spark.functions import multimodal, textstats
from llm_review_aggregation_spark.operators import dedup, simsearch
from llm_review_aggregation_spark.plans.pipeline import run_pipeline
from llm_review_aggregation_spark.textproc import STOPWORDS

# ---------------------------------------------------------------------------
# deterministic scorer lexicon for the webtext documents corpus
# ---------------------------------------------------------------------------

_WEBTEXT_PARAMS = {
    "aspect_terms": [
        "spark", "table", "join", "window", "filter", "merge", "sort", "hash",
        "scan", "batch", "stream", "vector", "column", "row", "key", "value",
        "query", "group", "agg", "part", "order", "customer", "line", "data",
    ],
    "meronyms": {
        "row": "table", "column": "table", "line": "table", "part": "table",
        "key": "hash", "value": "key", "window": "query", "filter": "query",
        "join": "query", "sort": "query", "agg": "query", "batch": "stream",
    },
    "canon": {},
    "positive": ["fast"],
    "negative": ["slow"],
}

# the documents vocabulary is ~30 types; keep the candidate dictionary
# smaller than the vocabulary so single-mention sentences (T7) exist
_KG_CFG = PipelineConfig(
    scorer="lexicon", scorer_params=_WEBTEXT_PARAMS, n_candidate_aspects=16
)


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pages -> (subj, pred, obj, score) triples."""
    sf_dir = "/root/testdata/sf0.001"
    pages = synth.pages_from_documents(spark, sf_dir)
    with run_pipeline(spark, pages, _KG_CFG) as result:
        # materialize before release so the caller's collect doesn't
        # recompute the pipeline against the now-uncached sentences
        return result.triples.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# helpers shared by spark queries
# ---------------------------------------------------------------------------

_STOP_SQL = "[" + ",".join(f"'{s}'" for s in sorted(STOPWORDS) if "'" not in s) + "]"
_STOP_LIST = [s for s in sorted(STOPWORDS) if "'" not in s]


def _tokens(text):
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def _dec_sum(col):
    """Order-independent exact sum: decimal accumulate, double out."""
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_doc_normalize(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.lower(F.regexp_replace("text", r"[^a-zA-Z0-9\s.,!?;:]", "")).alias("norm_text"),
        F.length("text").alias("len_raw"),
    ).filter(F.col("len_raw") > 100).orderBy("doc_id")


def _q_term_counts(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(_tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(100)
    )


def _q_bigram_counts(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    pairs = F.when(
        F.size(toks) >= 2,
        F.arrays_zip(
            F.slice(toks, 1, F.size(toks) - 1).alias("a"),
            F.slice(toks, 2, F.size(toks) - 1).alias("b"),
        ),
    ).otherwise(F.array())
    return (
        d.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "a", "b")
        .limit(100)
    )


def _q_semi_join_orders(spark, sf_dir):
    orders = _load(spark, sf_dir, "orders")
    customer = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    cust = customer.join(nation, customer["c_nationkey"] == nation["n_nationkey"]).filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    return (
        orders.join(F.broadcast(cust.select("c_custkey")), orders["o_custkey"] == F.col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


def _q_revenue_by_nation(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    orders = _load(spark, sf_dir, "orders")
    customer = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    rev = li.withColumn("rev", F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        rev.join(orders, rev["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(_dec_sum("rev").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("nation")
    )


def _q_top_orders_per_customer(spark, sf_dir):
    orders = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
        .orderBy("o_custkey", "rank")
    )


def _q_argmax_part_by_flag(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("l_extendedprice"), F.asc("l_partkey"), F.asc("l_orderkey"))
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("l_returnflag").alias("flag"), F.col("l_partkey").alias("top_part"), F.col("l_extendedprice").alias("top_price"))
        .orderBy("flag")
    )


def _q_pricing_summary(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity").alias("sum_qty"),
            _dec_sum("l_extendedprice").alias("sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_events_hourly(spark, sf_dir):
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), _dec_sum("value").alias("value_sum"))
        .orderBy("hour", "event_type")
    )


def _q_distinct_users_daily(spark, sf_dir):
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("day")
    )


def _q_customers_without_orders(spark, sf_dir):
    orders = _load(spark, sf_dir, "orders")
    customer = _load(spark, sf_dir, "customer")
    big = orders.filter(F.col("o_totalprice") > 150000)
    return (
        customer.join(big, customer["c_custkey"] == big["o_custkey"], "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def _q_fingerprints(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return (
        d.select(textstats.fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("fingerprint")
        .limit(200)
    )


def _q_stopword_quality_by_source(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    stops = F.array(*[F.lit(s) for s in _STOP_LIST])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    ratio = n_stop / F.greatest(F.size(toks), F.lit(1))
    return (
        d.select("source", F.round(ratio, 6).alias("stop_ratio"), F.size(toks).alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.round(F.avg("stop_ratio"), 6).alias("avg_stop_ratio"),
            F.avg(F.col("n_tokens").cast("double")).alias("avg_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("source")
    )


def _q_lang_id_counts(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return (
        d.select(textstats.lang_guess(F.col("text")).alias("lang_guess"))
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_guess")
    )


def _q_ann_topk(spark, sf_dir):
    emb = _load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5)
    out = simsearch.brute_force_topk(emb, queries, "embedding", "vec_id", "vec_id", k=10)
    return out.select("q_id", "id", F.round("cosine", 6).alias("cos_sim"), "rank").orderBy("q_id", "rank")


def _q_embedding_label_norms(spark, sf_dir):
    emb = _load(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        emb.select("label", F.round(norm, 4).alias("norm"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("norm"), 4).alias("avg_norm"))
        .orderBy("label")
    )


def _q_jaccard_pairs_by_source(spark, sf_dir):
    """Exact per-source Jaccard pairs via dedup.jaccard_pairs_bitset: this
    corpus's bounded vocabulary (~31 types, every token in ~77% of docs)
    defeats token-rarity blocking, so the scale answer here is the packed-
    bitset kernel — per-pair cost drops from string-array intersection to a
    few bit_count ops, and the only shuffle is the source-keyed self-join.
    Identical output to the array formulation (same SQL oracle)."""
    d = _load(spark, sf_dir, "documents")
    out = dedup.jaccard_pairs_bitset(d, "text", "doc_id", group_col="source", threshold=0.5)
    return (
        out.select(
            F.col("g").alias("source"), "a", "b", F.round("jaccard", 6).alias("jaccard")
        )
        .orderBy("source", "a", "b")
    )


def _q_cosine_near_dup(spark, sf_dir):
    """Exact all-pairs cosine near-dup — the oracle-checkable VERIFIER for
    the LSH contract path (cosine_near_dup_lsh); quadratic by design, run
    at test/verify scale only."""
    emb = _load(spark, sf_dir, "embeddings")
    out = dedup.embedding_near_duplicates_exact(emb, "embedding", "vec_id", threshold=0.35)
    return out.select("a", "b", F.round("cosine", 6).alias("cos_sim")).orderBy("a", "b")


def _q_cosine_near_dup_lsh(spark, sf_dir):
    """Scale path: blocked candidates verified by exact cosine — never
    all-pairs. At this LOOSE threshold (0.35) the auto router picks the
    AND-amplified IVF generator (sign-LSH collision odds approach a coin
    flip below cosine ~0.6 and measured only ~2.3x prune here): a pair is
    verified only when it collides home-vs-probe in ALL 4 independent
    md5-salted IVF tables (nlist=256, nprobe=88). Measured vs the exact
    all-pairs baseline: recall 0.841 at 5.56x candidate prune at sf0.1
    (0.961 / 0.945 recall at sf0.001 / sf0.01) — the round-3 single-table
    scheme read 0.56 at 7.1x. Output is a subset of cosine_near_dup
    (recall < 1 by construction; containment + the 0.8-recall floor are
    pytest-enforced). The determinism makes the whole path ORACLE-BACKED:
    a first-principles DuckDB restatement (same 4 centroid samples, cell
    ranking, probe rule, and 4-of-4 vote) matches row-for-row."""
    emb = _load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    out = dedup.embedding_near_duplicates(
        emb, "embedding", "vec_id", threshold=0.35,
        nlist=256, nprobe=88, ivf_tables=4,
    )
    return out.select("a", "b", F.round("cosine", 6).alias("cos_sim")).orderBy("a", "b")


def _q_token_count_bpe(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    bpe = F.size(F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)))
    return (
        d.select("source", bpe.alias("n_bpe"))
        .groupBy("source")
        .agg(
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.avg(F.col("n_bpe").cast("double")).alias("avg_bpe_tokens"),
            F.max("n_bpe").alias("max_bpe_tokens"),
        )
        .orderBy("source")
    )


def _q_quality_scores(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return (
        d.select("source", F.round(textstats.quality_score(F.col("text")), 6).alias("q"))
        .groupBy("source")
        .agg(F.round(F.avg("q"), 6).alias("avg_quality"), F.round(F.min("q"), 6).alias("min_quality"))
        .orderBy("source")
    )


def _q_deterministic_sample(spark, sf_dir):
    """Seeded sampling analog (SURVEY §2.8): hash-based deterministic ~1/16
    sample — portable across engines (md5, unlike rand(seed)) and stable
    under repartitioning, which per-partition samplers are not."""
    d = _load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "source", F.length("text").alias("n_chars"))
        .filter(F.substring(F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))), 1, 1) == "0")
        .orderBy("doc_id")
    )


def _q_topk_terms_per_source(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(_tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("source", "rank")
    )


# --- rows-only (UDF / driver-graph / approximate) ---------------------------


def _q_kg_triples(spark, sf_dir):
    pages = synth.pages_from_documents(spark, sf_dir)
    with run_pipeline(spark, pages, _KG_CFG) as res:
        return res.triples.orderBy("pred", "subj", "obj").localCheckpoint(eager=True)


def _q_kg_triples_pr(spark, sf_dir):
    """The north rule's triple P/R gate, surfaced as a driver query: the
    Spark pipeline's (subj, pred, obj) set joined against the triples the
    vendored loop-based oracle (llm_review_aggregation_spark/oracle/
    pipeline_oracle.py — the reference dataflow re-run as plain Python over
    the identical page bytes) emits for the same corpus. One row:
    (n_expected, n_got, precision, recall) — 1.0/1.0 measured at sf0.001
    and sf0.01 (the gate is >= 0.95, tests/test_pipeline_differential.py).
    Rows-only by design: the expected side is a full pipeline replay, not
    ANSI SQL.

    SCALE BOUND: the oracle replay is DRIVER-SIDE (pages.toPandas() + pure
    Python loops) and exists only to measure the correctness gate at gate
    scale (sf <= 0.01, a few thousand pages). A guard refuses larger
    corpora rather than silently collecting them to the driver — at sf >=
    0.1 use the distributed differential suite instead."""
    from llm_review_aggregation_spark.oracle import pipeline_oracle as oracle

    cfg = _KG_CFG
    pages = synth.pages_from_documents(spark, sf_dir)
    n_pages = pages.count()
    if n_pages > 10_000:
        raise ValueError(
            f"kg_triples_pr replays the corpus through a driver-side oracle "
            f"and is gate-scale-only (<= 10k pages; got {n_pages}). Run it "
            "at sf <= 0.01."
        )
    with run_pipeline(spark, pages, cfg) as res:
        got = {(r["subj"], r["pred"], r["obj"]) for r in res.triples.collect()}
    ref = oracle.run(pages.toPandas(), cfg)
    args = ref["arguments"]
    want = {(s, "partOf", o) for s, o in ref["edges"].items()}
    want |= {(g, "hasAspectOpinion", a) for g, a in zip(args["group_id"], args["aspect"])}
    tp = len(got & want)
    return spark.createDataFrame(
        [(len(want), len(got), tp / max(len(got), 1), tp / max(len(want), 1))],
        "n_expected long, n_got long, precision double, recall double",
    )


def _q_minhash_pairs(spark, sf_dir):
    d = _load(spark, sf_dir, "documents")
    return (
        dedup.minhash_near_duplicates(d, "text", "doc_id", threshold=0.5)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("a", "b")
    )


def _q_simhash_pairs(spark, sf_dir):
    # max_hamming=3 keeps the 4-band pigeonhole guarantee sound (any pair
    # within hamming 3 of 64 bits MUST collide on >= 1 of the 16-bit bands);
    # larger radii would make banding a recall heuristic, not a guarantee
    d = _load(spark, sf_dir, "documents")
    return dedup.simhash_near_duplicates(d, "text", "doc_id", max_hamming=3).orderBy("a", "b")


def _q_lsh_ann_topk(spark, sf_dir):
    emb = _load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = emb.filter(F.col("vec_id") < 5)
    out = simsearch.lsh_topk(emb, queries, "embedding", "vec_id", "vec_id", k=10, planes=6, probe_hamming=1, tables=8)
    return out.select("q_id", "id", F.round("cosine", 6).alias("cos_sim"), "rank").orderBy("q_id", "rank")


def _q_ivf_ann_topk(spark, sf_dir):
    """IVF-flat ANN (coarse quantize -> probe -> exact re-rank) — the
    complementary scale path to lsh_ann_topk. Approximate vs brute force
    (recall gated in pytest) but fully DETERMINISTIC, so it is
    oracle-backed by a first-principles DuckDB restatement of the same
    centroid sample / cell ranking / probe / re-rank (verified
    row-for-row equal at sf0.001/0.01/0.1)."""
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = simsearch.ivf_topk(emb, queries, "embedding", "vec_id", "vec_id", k=10, nlist=16, nprobe=6)
    return out.select("q_id", "id", F.round("cosine", 6).alias("cos_sim"), "rank").orderBy("q_id", "rank")


def _q_media_features(spark, sf_dir):
    media = multimodal.synth_media(spark, n_images=24, n_videos=6)
    feats = multimodal.extract_image_features(media)
    return feats.select(
        "media_id", "width", "height", F.round("mean_intensity", 4).alias("mean_intensity")
    ).orderBy("media_id")


def _q_dedup_components(spark, sf_dir):
    """Connected-components canonicalization of near-duplicate documents:
    MinHash-LSH candidate pairs -> label-propagation CC -> component sizes."""
    from llm_review_aggregation_spark.operators import canonicalize

    d = _load(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(d, "text", "doc_id", threshold=0.5).select(
        F.col("a").cast("string").alias("src"), F.col("b").cast("string").alias("dst")
    )
    labels = canonicalize.label_propagation(pairs, max_rounds=5)
    return (
        labels.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("component")
    )


def _q_salted_term_counts(spark, sf_dir):
    """Skew-safe two-stage (salted) top-k term counting — must agree with
    term_counts_top100 exactly."""
    from llm_review_aggregation_spark.operators import skew

    d = _load(spark, sf_dir, "documents")
    toks = d.select(F.explode(_tokens(F.col("text"))).alias("term"))
    return skew.salted_topk_by_count(toks, "term", 100).select("term", F.col("count").alias("n"))


def _q_kg_lineage(spark, sf_dir):
    """Per-stage lineage rows from a checkpointed pipeline run (resume
    metadata), rolled up to the partition-layout-independent columns
    (stage, output_rows, status). ORACLE-BACKED since round 5: the stage
    list, per-stage row counts, and statuses for the pinned sf0.001 corpus
    + config are fully deterministic (the differential suite pins the
    dataflow), so the DuckDB side is the expected literal stage table —
    wall-clock columns are excluded from the projection by construction.
    Staleness is pytest-gated (tests/test_entry_oracles.py re-runs the
    pipeline and the SQL side by side)."""
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        pages = synth.pages_from_documents(spark, "/root/testdata/sf0.001")
        run_pipeline(spark, pages, _KG_CFG, work_dir=tmp).release()
        from llm_review_aggregation_spark.plans.lineage import StageStore

        lin = StageStore(spark, tmp).lineage()
        return (
            lin.groupBy("stage")
            .agg(
                F.sum("output_rows").alias("output_rows"),
                F.count(F.lit(1)).alias("n_partitions"),
                F.min("status").alias("status"),
            )
            .select("stage", "output_rows", "status")
            .orderBy("stage")
            .localCheckpoint(eager=True)
        )


def _q_kg_judge_scores(spark, sf_dir):
    """M8/A18 end-to-end S-curve: LLM-judge pass over the flagship
    ontology edges -> per-run average -> write-back of the score column
    onto the edge table THROUGH the StageStore chokepoint (the reference's
    db/manager.py:437-465 UPDATE loop restated as a broadcast join + stage
    write; run.py:146-148 average). The returned rows are read back from
    the checkpointed `edges_judged` table, so the driver gate exercises
    judge -> average -> persist -> re-read, not just the scoring pass.
    Deterministic FakeJudgeClient; sf0.001 pipeline like kg_lineage so the
    gate stays cheap. ORACLE-BACKED since round 5: the judge S-curve is
    restated from first principles in DuckDB — the meronym lexicon as a
    VALUES table, the FakeJudgeClient contract (5 iff lexicon-true, else 1)
    as a CASE over a lexicon join, A18's run average as a window avg — over
    the pinned deterministic sf0.001 edge set (whose derivation the
    kg_triples differential suite + kg_triples_pr gate separately).
    Staleness is pytest-gated (tests/test_entry_oracles.py)."""
    import tempfile

    from llm_review_aggregation_spark.functions import judge
    from llm_review_aggregation_spark.plans.lineage import StageStore

    with tempfile.TemporaryDirectory() as tmp, run_pipeline(
        spark, synth.pages_from_documents(spark, "/root/testdata/sf0.001"), _KG_CFG, work_dir=tmp
    ) as res:
        client = judge.FakeJudgeClient(
            aspect_terms=frozenset(_WEBTEXT_PARAMS["aspect_terms"]),
            meronyms=dict(_WEBTEXT_PARAMS["meronyms"]),
        )
        scored = judge.judge_ontology_edges(res.ontology_edges, client, "webtext")
        avg = judge.average_relation_score(scored)
        store = StageStore(spark, tmp)
        judged = store.run_table(
            "edges_judged",
            lambda: judge.attach_judge_scores(res.ontology_edges, scored).withColumn(
                "run_avg_score", F.round(F.lit(avg), 4)
            ),
        )
        return (
            judged.select(
                "subj", "obj", F.round("score", 6).alias("edge_score"),
                "judge_score", "run_avg_score",
            )
            .orderBy("subj", "obj")
            .localCheckpoint(eager=True)
        )


def _q_media_audio_features(spark, sf_dir):
    media = multimodal.synth_media(spark, n_images=4, n_videos=2, n_audio=12)
    feats = multimodal.extract_audio_features(media)
    return feats.select(
        "media_id", "n_samples", F.round("rms", 4).alias("rms"), F.round("zero_crossing_rate", 6).alias("zcr")
    ).orderBy("media_id")


def _q_streaming_hourly(spark, sf_dir):
    import tempfile

    from llm_review_aggregation_spark.streaming import events as ev

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/events"
        spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(src)
        stream = ev.read_event_stream(spark, src)
        agg = ev.windowed_event_counts(stream, window="1 hour", watermark="10 minutes")
        ev.run_available_now(agg, "q_streaming_hourly", f"{tmp}/ckpt")
        out = spark.table("q_streaming_hourly")
        return (
            out.select(
                F.col("window_start").alias("hour"),
                "event_type",
                "n_events",
                F.round("value_sum", 4).alias("value_sum"),
            )
            .orderBy("hour", "event_type")
            .localCheckpoint(eager=True)
        )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # relational / SURVEY §2 operator surface
        "doc_normalize": _q_doc_normalize,
        "term_counts_top100": _q_term_counts,
        "bigram_counts": _q_bigram_counts,
        "semi_join_orders": _q_semi_join_orders,
        "revenue_by_nation": _q_revenue_by_nation,
        "top_orders_per_customer": _q_top_orders_per_customer,
        "argmax_part_by_flag": _q_argmax_part_by_flag,
        "pricing_summary": _q_pricing_summary,
        "events_hourly": _q_events_hourly,
        "distinct_users_daily": _q_distinct_users_daily,
        "customers_without_orders": _q_customers_without_orders,
        # corpus / training-data ops
        "fingerprints": _q_fingerprints,
        "stopword_quality_by_source": _q_stopword_quality_by_source,
        "lang_id_counts": _q_lang_id_counts,
        "ann_topk_cosine": _q_ann_topk,
        "embedding_label_norms": _q_embedding_label_norms,
        "jaccard_pairs_by_source": _q_jaccard_pairs_by_source,
        "topk_terms_per_source": _q_topk_terms_per_source,
        "cosine_near_dup": _q_cosine_near_dup,
        "cosine_near_dup_lsh": _q_cosine_near_dup_lsh,
        "token_count_bpe": _q_token_count_bpe,
        "quality_scores": _q_quality_scores,
        "salted_term_counts": _q_salted_term_counts,
        "deterministic_sample": _q_deterministic_sample,
        # pipeline / run-artifact / approximate / streaming (all oracle-
        # backed except kg_triples + kg_triples_pr, the full-pipeline pair)
        "kg_triples": _q_kg_triples,
        "kg_triples_pr": _q_kg_triples_pr,
        "minhash_pairs": _q_minhash_pairs,
        "simhash_pairs": _q_simhash_pairs,
        "lsh_ann_topk": _q_lsh_ann_topk,
        "ivf_ann_topk": _q_ivf_ann_topk,
        "media_features": _q_media_features,
        "media_audio_features": _q_media_audio_features,
        "streaming_hourly": _q_streaming_hourly,
        "dedup_components": _q_dedup_components,
        "kg_lineage": _q_kg_lineage,
        "kg_judge_scores": _q_kg_judge_scores,
    }


def oracle_sql() -> dict[str, str]:
    stop = _STOP_SQL
    return {
        "doc_normalize": """
            SELECT doc_id,
                   lower(regexp_replace(text, '[^a-zA-Z0-9\\s.,!?;:]', '', 'g')) AS norm_text,
                   length(text) AS len_raw
            FROM documents WHERE length(text) > 100 ORDER BY doc_id
        """,
        "term_counts_top100": """
            SELECT term, count(*) AS n
            FROM (SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
                  FROM documents)
            GROUP BY term ORDER BY n DESC, term ASC LIMIT 100
        """,
        "bigram_counts": """
            WITH toks AS (
              SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS l FROM documents
            )
            SELECT a, b, count(*) AS n
            FROM (
              SELECT l[i] AS a, l[i+1] AS b
              FROM toks, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i) g
              WHERE len(l) >= 2
            )
            GROUP BY a, b ORDER BY n DESC, a, b LIMIT 100
        """,
        "semi_join_orders": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_custkey IN (
              SELECT c_custkey FROM customer JOIN nation ON c_nationkey = n_nationkey
              WHERE n_name IN ('NATION_1','NATION_2'))
            ORDER BY o_orderkey
        """,
        "revenue_by_nation": """
            SELECT n_name AS nation,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                 JOIN customer ON o_custkey = c_custkey
                 JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY nation
        """,
        "top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
              FROM orders) WHERE rank <= 3 ORDER BY o_custkey, rank
        """,
        "argmax_part_by_flag": """
            SELECT flag, top_part, top_price FROM (
              SELECT l_returnflag AS flag, l_partkey AS top_part, l_extendedprice AS top_price,
                     row_number() OVER (PARTITION BY l_returnflag
                                        ORDER BY l_extendedprice DESC, l_partkey ASC, l_orderkey ASC) AS rn
              FROM lineitem) WHERE rn = 1 ORDER BY flag
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type
        """,
        "distinct_users_daily": """
            SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS n_users, count(*) AS n_events
            FROM events GROUP BY 1 ORDER BY day
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
            ORDER BY c_custkey
        """,
        "fingerprints": """
            SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
                   count(*) AS n_docs
            FROM documents GROUP BY 1 ORDER BY fingerprint LIMIT 200
        """,
        "stopword_quality_by_source": f"""
            WITH t AS (
              SELECT source,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents
            ), r AS (
              SELECT source,
                     round(len(list_filter(toks, x -> list_contains({stop}, x)))
                           / greatest(len(toks), 1)::DOUBLE, 6) AS stop_ratio,
                     len(toks) AS n_tokens
              FROM t
            )
            SELECT source, round(avg(stop_ratio), 6) AS avg_stop_ratio,
                   avg(n_tokens::DOUBLE) AS avg_tokens, max(n_tokens) AS max_tokens
            FROM r GROUP BY source ORDER BY source
        """,
        "lang_id_counts": f"""
            WITH t AS (
              SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks FROM documents
            )
            SELECT CASE WHEN len(list_filter(toks, x -> list_contains({stop}, x)))
                             / greatest(len(toks), 1)::DOUBLE >= 0.12
                        THEN 'en' ELSE 'unknown' END AS lang_guess,
                   count(*) AS n
            FROM t GROUP BY 1 ORDER BY lang_guess
        """,
        "ann_topk_cosine": """
            SELECT q_id, id, cos_sim, rank FROM (
              SELECT q.vec_id AS q_id, c.vec_id AS id,
                     round(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cos_sim,
                     row_number() OVER (PARTITION BY q.vec_id
                                        ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                                                 c.vec_id ASC) AS rank
              FROM embeddings c, embeddings q WHERE q.vec_id < 5)
            WHERE rank <= 10 ORDER BY q_id, rank
        """,
        "embedding_label_norms": """
            SELECT label, count(*) AS n,
                   round(avg(round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4)), 4) AS avg_norm
            FROM embeddings GROUP BY label ORDER BY label
        """,
        "jaccard_pairs_by_source": """
            WITH t AS (
              SELECT doc_id, source,
                     list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS toks
              FROM documents
            )
            SELECT a.source AS source, a.doc_id AS a, b.doc_id AS b,
                   round(len(list_intersect(a.toks, b.toks))
                         / greatest(len(list_distinct(list_concat(a.toks, b.toks))), 1)::DOUBLE, 6) AS jaccard
            FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.toks, b.toks))
                  / greatest(len(list_distinct(list_concat(a.toks, b.toks))), 1)::DOUBLE >= 0.5
            ORDER BY source, a, b
        """,
        "deterministic_sample": """
            SELECT doc_id, source, length(text) AS n_chars
            FROM documents
            WHERE substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 1) = '0'
            ORDER BY doc_id
        """,
        "salted_term_counts": """
            SELECT term, count(*) AS n
            FROM (SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
                  FROM documents)
            GROUP BY term ORDER BY n DESC, term ASC LIMIT 100
        """,
        "cosine_near_dup": """
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
            ORDER BY a, b
        """,
        # first-principles restatement of the deterministic AND-amplified
        # IVF scale path: per table t in 0..3, the 256 smallest
        # md5('ivf:' || salt_t || id) are the centroid sample (salt_0 = '',
        # salt_t = 't:'), cells ranked by descending (score, index), home =
        # rank 1, probe = rank <= 88, per-table collision when either
        # endpoint's home is in the other's probe set; a pair is verified
        # (exact cosine >= 0.35) only when it collides in ALL 4 tables.
        # Verified row-for-row equal to the Spark plan.
        "cosine_near_dup_lsh": """
            WITH emb AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            tabs AS (SELECT * FROM (VALUES (0, ''), (1, '1:'), (2, '2:'), (3, '3:')) AS t(tbl, salt)),
            keyed AS (
                SELECT t.tbl, e.vec_id, e.v,
                       md5('ivf:' || t.salt || CAST(e.vec_id AS VARCHAR)) AS h
                FROM emb e CROSS JOIN tabs t
            ),
            cents AS (
                SELECT tbl, row_number() OVER (PARTITION BY tbl ORDER BY h) - 1 AS ci, v AS cv
                FROM keyed
                QUALIFY row_number() OVER (PARTITION BY tbl ORDER BY h) <= 256
            ),
            scores AS (
                SELECT c.tbl, e.vec_id, c.ci,
                       list_dot_product(e.v, c.cv)
                         / greatest(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)), 1e-12) AS s
                FROM emb e CROSS JOIN cents c
            ),
            ranked AS (
                SELECT tbl, vec_id, ci, row_number() OVER (PARTITION BY tbl, vec_id ORDER BY s DESC, ci DESC) AS rk
                FROM scores
            ),
            home AS (SELECT tbl, vec_id, ci FROM ranked WHERE rk = 1),
            probe AS (SELECT tbl, vec_id, ci FROM ranked WHERE rk <= 88),
            coll AS (
                SELECT DISTINCT p.tbl, least(p.vec_id, h.vec_id) AS a, greatest(p.vec_id, h.vec_id) AS b
                FROM probe p JOIN home h ON p.tbl = h.tbl AND p.ci = h.ci AND p.vec_id <> h.vec_id
            ),
            cand AS (SELECT a, b FROM coll GROUP BY a, b HAVING count(*) >= 4),
            pairs AS (
                SELECT c.a, c.b, list_cosine_similarity(ea.v, eb.v) AS cos
                FROM cand c JOIN emb ea ON ea.vec_id = c.a JOIN emb eb ON eb.vec_id = c.b
            )
            SELECT a, b, round(cos, 6) AS cos_sim FROM pairs WHERE cos >= 0.35 ORDER BY a, b
        """,
        # first-principles IVF-flat ANN: 16-cell md5-seeded quantizer, home
        # cell per corpus vector, 6-cell probe per query (vec_id < 5),
        # exact-cosine re-rank with (cosine DESC, id ASC) ties — the exact
        # plan ivf_topk declares. Verified row-for-row at 3 scales.
        "ivf_ann_topk": """
            WITH emb AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            cents AS (
                SELECT row_number() OVER (ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR))) - 1 AS ci, v AS cv
                FROM (SELECT vec_id, v FROM emb ORDER BY md5('ivf:' || CAST(vec_id AS VARCHAR)) LIMIT 16)
            ),
            scores AS (
                SELECT e.vec_id, c.ci,
                       list_dot_product(e.v, c.cv)
                         / greatest(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)), 1e-12) AS s
                FROM emb e CROSS JOIN cents c
            ),
            ranked AS (
                SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci DESC) AS rk
                FROM scores
            ),
            home AS (SELECT vec_id AS id, ci FROM ranked WHERE rk = 1),
            probe AS (SELECT vec_id AS q_id, ci FROM ranked WHERE rk <= 6 AND vec_id < 5),
            cand AS (SELECT DISTINCT p.q_id, h.id FROM probe p JOIN home h ON p.ci = h.ci),
            scored AS (
                SELECT c.q_id, c.id, list_cosine_similarity(eq.v, ec.v) AS cos
                FROM cand c JOIN emb eq ON eq.vec_id = c.q_id JOIN emb ec ON ec.vec_id = c.id
            ),
            final AS (
                SELECT q_id, id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, id ASC) AS rank
                FROM scored
            )
            SELECT q_id, id, round(cos, 6) AS cos_sim, rank FROM final WHERE rank <= 10 ORDER BY q_id, rank
        """,
        "token_count_bpe": """
            SELECT source,
                   CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
                   avg(n_bpe::DOUBLE) AS avg_bpe_tokens,
                   max(n_bpe) AS max_bpe_tokens
            FROM (SELECT source,
                         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe
                  FROM documents)
            GROUP BY source ORDER BY source
        """,
        "quality_scores": f"""
            WITH t AS (
              SELECT source, text,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks,
                     (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                       / greatest(length(text), 1)::DOUBLE AS punct_ratio
              FROM documents
            ), q AS (
              SELECT source,
                     round(0.4 * least(len(toks) / 100.0, 1.0)
                         + 0.3 * greatest(0.0, 1.0 - punct_ratio * 4)
                         + 0.3 * least(len(list_filter(toks, x -> list_contains({stop}, x)))
                                       / greatest(len(toks), 1)::DOUBLE * 5, 1.0), 6) AS q
              FROM t
            )
            SELECT source, round(avg(q), 6) AS avg_quality, round(min(q), 6) AS min_quality
            FROM q GROUP BY source ORDER BY source
        """,
        # minhash_pairs: the engine blocks with seeded MinHash-LSH then
        # verifies candidates with TRUE 3-shingle Jaccard >= 0.5, so its
        # output is a subset of the exact pair set; qualifying pairs in this
        # corpus sit at J >= 0.8 where the (16 hashes, 4 bands) recall is
        # high, and the seeded signatures make the result deterministic.
        # Measured: LSH output == exact pair set at sf0.001, sf0.01
        # (25/25) AND sf0.1 (256/256) — the exact Jaccard SQL is a valid
        # equality oracle across the driver's scales.
        "minhash_pairs": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents
            ), s AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 3
                          THEN list_distinct(list_transform(generate_series(1, len(toks)-2),
                                                            i -> array_to_string(toks[i:i+2], ' ')))
                          ELSE [array_to_string(toks, ' ')] END AS sh
              FROM t
            )
            SELECT a.doc_id AS a, b.doc_id AS b,
                   round(len(list_intersect(a.sh, b.sh))
                         / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)::DOUBLE, 6) AS jaccard
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))
                  / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)::DOUBLE >= 0.5
            ORDER BY a, b
        """,
        # simhash_pairs: the engine's 4x16-bit banding is SOUND for
        # max_hamming=3 (pigeonhole), so its output equals ALL pairs with
        # hamming(simhash) <= 3 — and the simhash itself (per-bit majority
        # over 64-bit md5-prefix token hashes, bit set iff strictly more
        # ones) is computable from first principles in SQL; HUGEINT
        # accumulates the bit sum (UBIGINT << overflows at bit 63).
        "simhash_pairs": """
            WITH t AS (
              SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents
            ), e AS (
              SELECT doc_id, unnest(toks) AS tok FROM t
            ), h AS (
              SELECT doc_id, ('0x' || substring(md5(tok), 1, 16))::UBIGINT AS hv FROM e
            ), bits AS (
              SELECT doc_id, b, sum(((hv >> b) & 1)::INT) AS ones, count(*) AS n
              FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)
              GROUP BY doc_id, b
            ), sim AS (
              SELECT doc_id,
                     sum(CASE WHEN ones * 2 > n THEN (1::HUGEINT << b) ELSE 0 END)::UBIGINT AS u
              FROM bits GROUP BY doc_id
            )
            SELECT a.doc_id AS a, b.doc_id AS b, bit_count(xor(a.u, b.u)) AS hamming
            FROM sim a JOIN sim b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.u, b.u)) <= 3
            ORDER BY a, b
        """,
        # dedup_components: same pair set as minhash_pairs (edges), then
        # connected components with min-string labels — the engine's 5-round
        # label propagation is exact CC for these diameter-<=5 components,
        # and a recursive reachability CTE replicates it in ANSI SQL.
        "dedup_components": """
            WITH RECURSIVE t AS (
              SELECT doc_id,
                     list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents
            ), s AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 3
                          THEN list_distinct(list_transform(generate_series(1, len(toks)-2),
                                                            i -> array_to_string(toks[i:i+2], ' ')))
                          ELSE [array_to_string(toks, ' ')] END AS sh
              FROM t
            ), pairs AS (
              SELECT CAST(a.doc_id AS VARCHAR) AS a, CAST(b.doc_id AS VARCHAR) AS b
              FROM s a JOIN s b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh))
                    / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1)::DOUBLE >= 0.5
            ), edges AS (
              SELECT a AS src, b AS dst FROM pairs
              UNION ALL SELECT b, a FROM pairs
            ), reach(node, lab) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node
            )
            SELECT component, count(*) AS n_docs FROM (
              SELECT node, min(lab) AS component FROM reach GROUP BY node
            ) GROUP BY component ORDER BY component
        """,
        # streaming_hourly: 1-hour tumbling event-time windows over a
        # bounded file source (availableNow, no late drops) are exactly the
        # batch hourly rollup with window_start = date_trunc('hour', ts).
        "streaming_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS value_sum
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type
        """,
        "topk_terms_per_source": """
            SELECT source, term, n, rank FROM (
              SELECT source, term, n,
                     row_number() OVER (PARTITION BY source ORDER BY n DESC, term ASC) AS rank
              FROM (
                SELECT source, term, count(*) AS n
                FROM (SELECT source,
                             unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS term
                      FROM documents)
                GROUP BY 1, 2
              ) c
            ) WHERE rank <= 5 ORDER BY source, rank
        """,
        # lsh_ann_topk: first-principles restatement of the sign-LSH index.
        # Hyperplane coefficients are Irwin-Hall sums of three md5-hashed
        # uniforms (simsearch._plane_coef — md5 precisely so this oracle can
        # exist); 8 tables x 6 planes, plane_key = (42 + 1000t)*7919 + p,
        # bucket = sign bits + t*64; index side multi-probes hamming<=1
        # (XOR flips 0,1,2,4,8,16,32), query side (vec_id < 5) probes its
        # own bucket; exact-cosine re-rank with (cosine DESC, id ASC) ties.
        "lsh_ann_topk": """
            WITH emb AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ),
            comp AS (
                SELECT vec_id, generate_subscripts(v, 1) - 1 AS j, unnest(v) AS x FROM emb
            ),
            params AS (
                SELECT t.t, p.p, (42 + 1000 * t.t) * 7919 + p.p AS pk
                FROM (SELECT unnest(range(8)) AS t) t
                CROSS JOIN (SELECT unnest(range(6)) AS p) p
            ),
            proj AS (
                SELECT c.vec_id, pr.t, pr.p,
                       sum(c.x * (
                           ((('0x' || substr(md5('lsh:' || pr.pk || ':0:' || c.j), 1, 8))::UBIGINT
                             % 2000001) / 1000000.0 - 1.0)
                         + ((('0x' || substr(md5('lsh:' || pr.pk || ':1:' || c.j), 1, 8))::UBIGINT
                             % 2000001) / 1000000.0 - 1.0)
                         + ((('0x' || substr(md5('lsh:' || pr.pk || ':2:' || c.j), 1, 8))::UBIGINT
                             % 2000001) / 1000000.0 - 1.0)
                       )) AS pj
                FROM comp c CROSS JOIN params pr
                GROUP BY c.vec_id, pr.t, pr.p
            ),
            bkt AS (
                SELECT vec_id, t,
                       CAST(sum(CASE WHEN pj >= 0 THEN (1 << p) ELSE 0 END) + t * 64 AS BIGINT) AS bucket0
                FROM proj GROUP BY vec_id, t
            ),
            cb AS (
                SELECT DISTINCT vec_id AS id, xor(bucket0, f.f) AS bucket
                FROM bkt CROSS JOIN (SELECT CAST(unnest([0, 1, 2, 4, 8, 16, 32]) AS BIGINT) AS f) f
            ),
            qb AS (
                SELECT DISTINCT vec_id AS q_id, bucket0 AS bucket FROM bkt WHERE vec_id < 5
            ),
            cand AS (SELECT DISTINCT qb.q_id, cb.id FROM qb JOIN cb USING (bucket)),
            scored AS (
                SELECT c.q_id, c.id, list_cosine_similarity(eq.v, ec.v) AS cos
                FROM cand c JOIN emb eq ON eq.vec_id = c.q_id JOIN emb ec ON ec.vec_id = c.id
            ),
            final AS (
                SELECT q_id, id, cos,
                       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, id ASC) AS rank
                FROM scored
            )
            SELECT q_id, id, round(cos, 6) AS cos_sim, rank FROM final
            WHERE rank <= 10 ORDER BY q_id, rank
        """,
        # media_features: the fake-media payload body is md5-chained
        # (multimodal._det_bytes: block b of media m = md5('image:m:b'),
        # 32x24 = 768 bytes = 48 blocks), so the oracle regenerates the
        # identical byte stream with DuckDB's md5 — hex digit pairs decoded
        # via a strpos lookup — and recomputes the mean intensity from
        # first principles. Self-contained: the query side synthesizes its
        # media table too (no sf_dir dependence).
        "media_features": """
            WITH hx AS (
              SELECT i.media_id, md5('image:' || i.media_id || ':' || b.b) AS h
              FROM (SELECT unnest(range(24)) AS media_id) i
              CROSS JOIN (SELECT unnest(range(48)) AS b) b
            ), bytes AS (
              SELECT media_id,
                     (strpos('0123456789abcdef', substr(h, 2*k.k + 1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substr(h, 2*k.k + 2, 1)) - 1) AS val
              FROM hx CROSS JOIN (SELECT unnest(range(16)) AS k) k
            )
            SELECT media_id, 32 AS width, 24 AS height,
                   round(avg(val), 4) AS mean_intensity
            FROM bytes GROUP BY media_id ORDER BY media_id
        """,
        # media_audio_features: audio body = 4096 md5-chained bytes
        # ('audio:m:b', 256 blocks) read as little-endian int16 PCM; rms =
        # sqrt(mean(s^2)), zcr = sign-change count / (n-1) with signbit(s)
        # = s < 0 — exactly extract_audio_features' numpy arithmetic (all
        # intermediate sums are integers < 2^53, so float64 results are
        # order-independent and engine-exact).
        # kg_judge_scores: first-principles restatement of the M8/A18 judge
        # S-curve. The FakeJudgeClient contract (functions/judge.py — 5 iff
        # the (child=subj, parent=obj) pair is lexicon-true, else 1; the
        # reference's 1-5 "Score: [[N]]" scale) becomes a CASE over the
        # meronym lexicon joined to the edge table; A18's run average is a
        # window avg rounded to 4 places, matching the write-back column.
        # The edge set itself is the PINNED deterministic pipeline output
        # for the sf0.001 corpus (the query side hardcodes that corpus, as
        # media_features hardcodes its media table) — its derivation is
        # gated separately by the kg_triples differential suite and
        # kg_triples_pr; tests/test_entry_oracles.py re-derives it and
        # fails if this literal ever goes stale.
        "kg_judge_scores": """
            WITH edges(subj, obj, edge_score) AS (VALUES
              ('column','query',0.000649), ('group','order',0.000586),
              ('key','scan',0.000172), ('line','part',0.000536),
              ('merge','vector',0.000705), ('order','scan',0.000689),
              ('part','scan',0.000686), ('query','scan',0.000306),
              ('sort','query',0.008787), ('value','key',0.008692),
              ('vector','value',0.00074), ('window','query',0.015788)
            ),
            mer(child, parent) AS (VALUES
              ('row','table'), ('column','table'), ('line','table'),
              ('part','table'), ('key','hash'), ('value','key'),
              ('window','query'), ('filter','query'), ('join','query'),
              ('sort','query'), ('agg','query'), ('batch','stream')
            ),
            scored AS (
              SELECT e.subj, e.obj, CAST(e.edge_score AS DOUBLE) AS edge_score,
                     CAST(CASE WHEN m.parent = e.obj THEN 5 ELSE 1 END AS INTEGER)
                       AS judge_score
              FROM edges e LEFT JOIN mer m ON m.child = e.subj
            )
            SELECT subj, obj, edge_score, judge_score,
                   round(avg(judge_score) OVER (), 4) AS run_avg_score
            FROM scored ORDER BY subj, obj
        """,
        # kg_lineage: the per-stage lineage rollup for the pinned sf0.001
        # corpus + config is fully deterministic in its partition-layout-
        # independent columns (stage, total output rows, status) — the
        # oracle is the expected literal stage table (wall-clock columns
        # are excluded from the projection by construction). Staleness is
        # pytest-gated like kg_judge_scores.
        "kg_lineage": """
            SELECT stage, CAST(output_rows AS BIGINT) AS output_rows, status
            FROM (VALUES
              ('arguments', 260, 'complete'),
              ('aspects', 15, 'complete'),
              ('candidates', 16, 'complete'),
              ('docs', 500, 'complete'),
              ('meronym_scores', 156, 'complete'),
              ('ontology_edges', 12, 'complete'),
              ('sentences', 5351, 'complete'),
              ('synsets', 15, 'complete'),
              ('triples', 272, 'complete')
            ) AS t(stage, output_rows, status)
            ORDER BY stage
        """,
        "media_audio_features": """
            WITH hx AS (
              SELECT i.media_id, b.b, md5('audio:' || i.media_id || ':' || b.b) AS h
              FROM (SELECT unnest(range(12)) + 2000 AS media_id) i
              CROSS JOIN (SELECT unnest(range(256)) AS b) b
            ), samp AS (
              SELECT media_id, b * 8 + k.k AS i,
                     (strpos('0123456789abcdef', substr(h, 4*k.k + 1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substr(h, 4*k.k + 2, 1)) - 1)
                     + 256 * ((strpos('0123456789abcdef', substr(h, 4*k.k + 3, 1)) - 1) * 16
                              + (strpos('0123456789abcdef', substr(h, 4*k.k + 4, 1)) - 1)) AS u
              FROM hx CROSS JOIN (SELECT unnest(range(8)) AS k) k
            ), pcm AS (
              SELECT media_id, i,
                     CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
              FROM samp
            ), sgn AS (
              SELECT media_id, s,
                     CASE WHEN s < 0 THEN 1 ELSE 0 END AS sb,
                     lag(CASE WHEN s < 0 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY media_id ORDER BY i) AS psb
              FROM pcm
            )
            SELECT media_id,
                   CAST(count(*) AS BIGINT) AS n_samples,
                   round(sqrt(avg(CAST(s AS DOUBLE) * s)), 4) AS rms,
                   round(sum(CASE WHEN psb IS NOT NULL AND psb <> sb THEN 1 ELSE 0 END)
                         / (count(*) - 1.0), 6) AS zcr
            FROM sgn GROUP BY media_id ORDER BY media_id
        """,
    }
