"""End-to-end KG-construction pipeline: pages -> triples.

Stage graph (SURVEY §7.1); every stage checkpoints through plans/lineage.py
when a work_dir is given. Stages are demand-driven: a re-run computes only
the stages whose checkpoint is missing, and opens a complete checkpoint only
when a caller reads it, so a resumed complete run opens just `triples`.

    E1 extract      docs(url, group_id, text)
    E2 segment      sentences(url, group_id, sent_id, sentence, tokens)
    E3 mine         phrase vocab artifact + candidates(term, count)
    E4 detect       aspects(term, count, prob)
    E5 link         synsets(concept, member, count)  [driver-exact <=512 terms,
                                                      label propagation above]
    E6 relate       meronym_scores + ontology_edges(subj, pred, obj, score)
    E7 opine        arguments(group_id, aspect, polarity, strength, ...)
    materialize     triples = ontology_edges  UNION  per-group opinion edges
"""

from __future__ import annotations

from functools import cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llm_review_aggregation_spark.config import DEFAULT_CONFIG, PipelineConfig
from llm_review_aggregation_spark.functions import cleaning, embeddings, mining, scoring, tokenize
from llm_review_aggregation_spark.operators import argumentation, aspects as aspects_ops
from llm_review_aggregation_spark.operators import concepts as concepts_ops
from llm_review_aggregation_spark.operators import relations as relations_ops
from llm_review_aggregation_spark.plans.lineage import EphemeralStore, StageStore
from llm_review_aggregation_spark.session import local_table


# empty, typed outputs of the degenerate corpus (no aspect survived)
_SYNSETS_SCHEMA = "concept string, member string, count long"
_EDGES_SCHEMA = "subj string, pred string, obj string, score double"
_SCORES_SCHEMA = "child string, parent string, score_sum double, pair_count long"


def _field(name: str) -> property:
    return property(lambda self: self._stages[name](), doc=f"`{name}`, resolved on first access")


class PipelineResult:
    """The pipeline's outputs. `triples` is resolved by run_pipeline; every
    other field resolves its stage on first access, so a resumed run opens
    only the checkpoints its caller reads."""

    docs = _field("docs")
    sentences = _field("sentences")
    candidates = _field("candidates")
    aspects = _field("aspects")
    synsets = _field("synsets")
    ontology_edges = _field("ontology_edges")
    arguments = _field("arguments")
    triples = _field("triples")
    root_name = _field("root_name")
    tree_edges = _field("tree_edges")
    synset_map = _field("synset_map")

    def __init__(self, stages: dict):
        self._stages = stages

    def release(self) -> None:
        """Unpersist the pipeline's cached intermediates (`sentences` feeds
        7 downstream passes and is cached for the run's duration). Callers
        that run pipelines repeatedly in one long-lived session — exactly
        what `__spark_entry__.queries()` and bench.py do — must call this
        (or use the result as a context manager) once they've materialized
        what they need, or cached blocks accumulate across runs. Idempotent;
        a `sentences` that was never resolved stays unresolved, and the
        result's DataFrames stay valid afterwards, they just recompute
        instead of hitting the cache."""
        stage = self._stages["sentences"]
        if stage.cache_info().currsize:
            stage().unpersist()

    def __enter__(self) -> "PipelineResult":
        return self

    def __exit__(self, *exc) -> bool:
        self.release()
        return False


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    work_dir: str | None = None,
    bucket_triples: int | None = None,
) -> PipelineResult:
    """Each stage is a memoized zero-argument function that computes
    through the store and calls its upstream stages only inside its compute,
    which the store skips for a complete stage; so a complete checkpoint
    never pulls in its inputs. The stage functions are where per-stage
    staleness fingerprints would go. This call walks the stages in order,
    resolves each one whose checkpoint is missing (every stage, without a
    work_dir), then resolves `triples`; a failure raises here.

    ``bucket_triples=N`` writes the triples checkpoint hash-bucketed (and
    sorted) on `subj` into N buckets (requires work_dir, parquet format):
    the graph table's hot consumers — per-subject rollups, subj-keyed
    self-joins, triples x entity-attribute joins — then plan WITHOUT an
    Exchange on the triples side (asserted in tests/test_bucketing.py).
    One shuffle at materialize time buys shuffle-free repeated reads; the
    reference's analog is the Postgres index its join queries rely on
    (db/manager.py:321-326)."""
    bucket_spec = {"triples": ("subj", bucket_triples)} if bucket_triples else None
    store = (
        StageStore(spark, work_dir, table_format=cfg.table_format, bucket_spec=bucket_spec)
        if work_dir
        else EphemeralStore(spark)
    )

    @cache
    def scorers():
        # (entity, relation, sentiment): built inside the first stage that scores
        return scoring.make_scorers(cfg.scorer, cfg.scorer_params)

    # E1/E2 ---------------------------------------------------------------
    @cache
    def docs():
        return store.run_table("docs", lambda: cleaning.extract_docs(pages))

    @cache
    def sentences():
        # Ephemeral (no work_dir): E1+E2 run FUSED straight from pages — the
        # cleaned text crosses the Arrow boundary once instead of chaining two
        # Python runners (tokenize.segment_pages; byte-identical semantics,
        # differential-tested). With a work_dir the docs checkpoint already
        # holds the cleaned text, so segmenting reads it instead of re-cleaning.
        if work_dir:
            df = store.run_table("sentences", lambda: tokenize.segment_sentences(docs()))
        else:
            df = store.run_table("sentences", lambda: tokenize.segment_pages(pages))
        return df.cache()

    # E3 --------------------------------------------------------------------
    @cache
    def phrase_vocab():
        pairs = store.run_artifact(
            "phrase_vocab",
            lambda: sorted(
                mining.build_phrase_vocab(sentences(), cfg.phrase_min_count, cfg.phrase_threshold)
            ),
        )
        return {tuple(p) for p in pairs}

    @cache
    def candidates():
        return store.run_table(
            "candidates",
            lambda: mining.top_candidates(
                mining.count_noun_terms(sentences(), phrase_vocab()), cfg.n_candidate_aspects
            ),
        )

    # E4 --------------------------------------------------------------------
    @cache
    def aspects():
        return store.run_table(
            "aspects",
            lambda: aspects_ops.extract_aspects(
                sentences(), candidates(), scorers()[0], cfg.entity_prob_threshold
            ),
        )

    # E5 --------------------------------------------------------------------
    def _cluster():
        rows = aspects().orderBy(F.desc("count"), F.asc("term")).limit(cfg.top_k_aspects_to_keep).collect()
        counts = {r["term"]: r["count"] for r in rows}
        if not counts:
            return {"root": None, "synset_counts": {}, "synsets": {}}
        root_name = cfg.root_name or next(iter(counts))
        if root_name not in counts:
            counts = {root_name: 0, **counts}
        if len(counts) > cfg.max_driver_cluster_terms:
            # scale path: distributed PPMI + sparse-cosine edges +
            # label-propagation connected components (no driver n^2)
            from llm_review_aggregation_spark.operators import canonicalize

            synset_counts, synsets = canonicalize.cluster_synsets_scale(
                spark,
                sentences(),
                counts,
                root_name,
                cfg.similarity_threshold,
                num_levels=cfg.num_clustering_levels,
                window=cfg.embedding_window,
            )
        else:
            builders = {
                "ppmi": embeddings.build_similarity_model,
                "word2vec": embeddings.build_word2vec_similarity_model,
                "fasttext": embeddings.build_fasttext_similarity_model,
            }
            if cfg.embedding_backend not in builders:
                raise ValueError(f"unknown embedding_backend {cfg.embedding_backend!r}")
            kwargs = dict(cfg.embedding_params)
            kwargs.setdefault("window", cfg.embedding_window)
            sim = builders[cfg.embedding_backend](
                sentences(), list(counts), topn=cfg.rcs_topn, **kwargs
            )
            synset_counts, synsets = concepts_ops.cluster_synsets(
                root_name, counts, sim, cfg.similarity_threshold, cfg.num_clustering_levels
            )
        return {"root": root_name, "synset_counts": synset_counts, "synsets": synsets}

    @cache
    def concepts():
        return store.run_artifact("concepts", _cluster)

    def root():
        # None on the degenerate corpus, whose later stages are empty,
        # typed and never checkpointed
        return concepts()["root"]

    @cache
    def synset_counts():
        return {k: int(v) for k, v in concepts()["synset_counts"].items()}

    @cache
    def synset_map():
        return {k: list(v) for k, v in concepts()["synsets"].items()}

    def graph_stage(stage, schema, fn):
        if root() is None:
            return local_table(spark, [], schema)
        return store.run_table(stage, fn)

    @cache
    def synsets():
        return graph_stage(
            "synsets",
            _SYNSETS_SCHEMA,
            lambda: local_table(
                spark,
                [(c, m, synset_counts()[c]) for c, ms in synset_map().items() for m in ms],
                _SYNSETS_SCHEMA,
            ),
        )

    # E6 --------------------------------------------------------------------
    @cache
    def meronym_scores():
        return graph_stage(
            "meronym_scores",
            _SCORES_SCHEMA,
            lambda: relations_ops.accumulate_meronym_scores(
                sentences(), list(synset_counts()), synset_map(), scorers()[1]
            ),
        )

    @cache
    def ontology_edges():
        return graph_stage(
            "ontology_edges",
            _EDGES_SCHEMA,
            lambda: relations_ops.build_ontology_edges(
                spark, meronym_scores(), list(synset_counts()), synset_counts(), root()
            ),
        )

    @cache
    def tree_edges():
        return {r["subj"]: r["obj"] for r in ontology_edges().collect()}

    # E7 --------------------------------------------------------------------
    def _arguments():
        tree_nodes = set(tree_edges()) | set(tree_edges().values()) | {root()}
        glossary = {n: synset_map().get(n, [n]) for n in tree_nodes}
        # E7's review counts need one (group_id) row per document, nothing else —
        # derive it straight from pages (url regex, no clean_text UDF) so the
        # lazy/ephemeral path never recomputes E1 text extraction for it
        doc_groups = cleaning.extract_doc_groups(pages)
        return argumentation.extract_arguments(
            spark,
            sentences(),
            doc_groups,
            tree_edges(),
            root(),
            glossary,
            scorers()[2],
            cfg.sentiment_threshold,
            cfg.phrase_max_words,
        )

    @cache
    def arguments():
        return graph_stage("arguments", argumentation._OUT_SCHEMA, _arguments)

    # materialize graph ------------------------------------------------------
    def _triples():
        opinion = arguments().select(
            F.col("group_id").alias("subj"),
            F.lit("hasAspectOpinion").alias("pred"),
            F.col("aspect").alias("obj"),
            F.when(F.col("polarity"), F.col("strength")).otherwise(-F.col("strength")).alias("score"),
        )
        return ontology_edges().select("subj", "pred", "obj", "score").unionByName(opinion)

    @cache
    def triples():
        return graph_stage("triples", _EDGES_SCHEMA, _triples)

    stages = {
        "docs": docs,
        "sentences": sentences,
        "phrase_vocab": phrase_vocab,
        "candidates": candidates,
        "aspects": aspects,
        "concepts": concepts,
        "synsets": synsets,
        "meronym_scores": meronym_scores,
        "ontology_edges": ontology_edges,
        "arguments": arguments,
    }
    for stage, resolve in stages.items():
        if not store.is_complete(stage):
            resolve()
    triples()
    return PipelineResult(
        {
            **stages,
            "triples": triples,
            "root_name": lambda: root() or "",
            "tree_edges": tree_edges,
            "synset_map": synset_map,
        }
    )
