"""End-to-end KG-construction pipeline: pages -> triples.

Stage graph (SURVEY §7.1); every stage checkpoints through plans/lineage.py
when a work_dir is given, and a re-run resumes from the last complete stage.

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

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llm_review_aggregation_spark.config import DEFAULT_CONFIG, PipelineConfig
from llm_review_aggregation_spark.functions import cleaning, embeddings, mining, scoring, tokenize
from llm_review_aggregation_spark.operators import argumentation, aspects as aspects_ops
from llm_review_aggregation_spark.operators import concepts as concepts_ops
from llm_review_aggregation_spark.operators import relations as relations_ops
from llm_review_aggregation_spark.plans.lineage import EphemeralStore, StageStore
from llm_review_aggregation_spark.session import local_table


@dataclass
class PipelineResult:
    docs: DataFrame
    sentences: DataFrame
    candidates: DataFrame
    aspects: DataFrame
    synsets: DataFrame
    ontology_edges: DataFrame
    arguments: DataFrame
    triples: DataFrame
    root_name: str
    tree_edges: dict[str, str]
    synset_map: dict[str, list[str]]

    def release(self) -> None:
        """Unpersist the pipeline's cached intermediates (`sentences` feeds
        7 downstream passes and is cached for the run's duration). Callers
        that run pipelines repeatedly in one long-lived session — exactly
        what `__spark_entry__.queries()` and bench.py do — must call this
        (or use the result as a context manager) once they've materialized
        what they need, or cached blocks accumulate across runs. Idempotent;
        the result's DataFrames stay valid afterwards, they just recompute
        instead of hitting the cache."""
        lvl = self.sentences.storageLevel
        if lvl.useMemory or lvl.useDisk:
            self.sentences.unpersist()

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
    """``bucket_triples=N`` writes the triples checkpoint hash-bucketed (and
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
    entity_scorer, relation_scorer, sentiment_scorer = scoring.make_scorers(cfg.scorer, cfg.scorer_params)

    # E1/E2 ---------------------------------------------------------------
    docs = store.run_table("docs", lambda: cleaning.extract_docs(pages))
    # Ephemeral (no work_dir): E1+E2 run FUSED straight from pages — the
    # cleaned text crosses the Arrow boundary once instead of chaining two
    # Python runners (tokenize.segment_pages; byte-identical semantics,
    # differential-tested). With a work_dir the docs checkpoint already
    # holds the cleaned text, so segmenting reads it instead of re-cleaning.
    if work_dir:
        sentences = store.run_table("sentences", lambda: tokenize.segment_sentences(docs))
    else:
        sentences = store.run_table("sentences", lambda: tokenize.segment_pages(pages))
    sentences.cache()

    # E3 --------------------------------------------------------------------
    pairs = store.run_artifact(
        "phrase_vocab",
        lambda: sorted(mining.build_phrase_vocab(sentences, cfg.phrase_min_count, cfg.phrase_threshold)),
    )
    pair_set = {tuple(p) for p in pairs}
    candidates = store.run_table(
        "candidates",
        lambda: mining.top_candidates(
            mining.count_noun_terms(sentences, pair_set), cfg.n_candidate_aspects
        ),
    )

    # E4 --------------------------------------------------------------------
    aspects_df = store.run_table(
        "aspects",
        lambda: aspects_ops.extract_aspects(sentences, candidates, entity_scorer, cfg.entity_prob_threshold),
    )

    # E5 --------------------------------------------------------------------
    def _cluster():
        rows = aspects_df.orderBy(F.desc("count"), F.asc("term")).limit(cfg.top_k_aspects_to_keep).collect()
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
                sentences,
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
                sentences, list(counts), topn=cfg.rcs_topn, **kwargs
            )
            synset_counts, synsets = concepts_ops.cluster_synsets(
                root_name, counts, sim, cfg.similarity_threshold, cfg.num_clustering_levels
            )
        return {"root": root_name, "synset_counts": synset_counts, "synsets": synsets}

    concept_art = store.run_artifact("concepts", _cluster)
    root_name = concept_art["root"]
    if root_name is None:
        # degenerate corpus (no aspects survived): emit empty, well-typed outputs
        empty = {
            "synsets": local_table(spark, [], "concept string, member string, count long"),
            "edges": local_table(spark, [], "subj string, pred string, obj string, score double"),
            "arguments": local_table(
                spark,
                [],
                "group_id string, aspect string, polarity boolean, strength double, "
                "strongest_support_phrase string, strongest_attack_phrase string, "
                "strongest_support_feature string, strongest_attack_feature string",
            ),
        }
        return PipelineResult(
            docs=docs,
            sentences=sentences,
            candidates=candidates,
            aspects=aspects_df,
            synsets=empty["synsets"],
            ontology_edges=empty["edges"],
            arguments=empty["arguments"],
            triples=empty["edges"],
            root_name="",
            tree_edges={},
            synset_map={},
        )
    synset_counts = {k: int(v) for k, v in concept_art["synset_counts"].items()}
    synset_map = {k: list(v) for k, v in concept_art["synsets"].items()}

    synsets_rows = [(c, m, synset_counts[c]) for c, ms in synset_map.items() for m in ms]
    synsets_df = store.run_table(
        "synsets",
        lambda: local_table(spark, synsets_rows, "concept string, member string, count long"),
    )

    # E6 --------------------------------------------------------------------
    concepts_list = list(synset_counts)
    meronym_scores = store.run_table(
        "meronym_scores",
        lambda: relations_ops.accumulate_meronym_scores(sentences, concepts_list, synset_map, relation_scorer),
    )
    ontology_edges = store.run_table(
        "ontology_edges",
        lambda: relations_ops.build_ontology_edges(
            spark, meronym_scores, concepts_list, synset_counts, root_name
        ),
    )
    tree_edges = {r["subj"]: r["obj"] for r in ontology_edges.collect()}

    # E7 --------------------------------------------------------------------
    tree_nodes = set(tree_edges) | set(tree_edges.values()) | {root_name}
    glossary = {n: synset_map.get(n, [n]) for n in tree_nodes}
    # E7's review counts need one (group_id) row per document, nothing else —
    # derive it straight from pages (url regex, no clean_text UDF) so the
    # lazy/ephemeral path never recomputes E1 text extraction for it
    doc_groups = cleaning.extract_doc_groups(pages)
    arguments = store.run_table(
        "arguments",
        lambda: argumentation.extract_arguments(
            spark,
            sentences,
            doc_groups,
            tree_edges,
            root_name,
            glossary,
            sentiment_scorer,
            cfg.sentiment_threshold,
            cfg.phrase_max_words,
        ),
    )

    # materialize graph ------------------------------------------------------
    def _triples():
        opinion = arguments.select(
            F.col("group_id").alias("subj"),
            F.lit("hasAspectOpinion").alias("pred"),
            F.col("aspect").alias("obj"),
            F.when(F.col("polarity"), F.col("strength")).otherwise(-F.col("strength")).alias("score"),
        )
        return ontology_edges.select("subj", "pred", "obj", "score").unionByName(opinion)

    triples = store.run_table("triples", _triples)

    return PipelineResult(
        docs=docs,
        sentences=sentences,
        candidates=candidates,
        aspects=aspects_df,
        synsets=synsets_df,
        ontology_edges=ontology_edges,
        arguments=arguments,
        triples=triples,
        root_name=root_name,
        tree_edges=tree_edges,
        synset_map=synset_map,
    )
