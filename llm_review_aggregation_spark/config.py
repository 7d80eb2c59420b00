"""Pipeline configuration.

Numeric thresholds follow the reference's published defaults so that the
engine's outputs are comparable (citations into /root/reference):

- N_ASPECTS / top-k candidates: 100           (src/constants.py:51)
- TOP_K_ASPECTS_TO_KEEP: 100 default          (concepts/manager.py:17)
- ENTITY_PROB_THRESHOLD: 0.65                 (src/constants.py:50)
- PHRASE_THRESHOLD (bigram scoring): 4        (src/constants.py:60)
- synset similarity threshold: 0.20           (ontology_bert/concepts/run.py:35)
- num_clustering_levels: 3                    (ontology_bert/concepts/run.py:36)
- sentiment vote threshold: 0.95              (arg_framework/review.py:26)
- phrase max words: 128 * 0.3 = 38.4          (arg_framework/review.py:27)
- embedding window: 4, min_count: 1           (concepts/word2vec_wrapper.py)
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # candidate mining
    n_candidate_aspects: int = 100
    top_k_aspects_to_keep: int = 100
    phrase_min_count: int = 1
    phrase_threshold: float = 4.0

    # aspect detection
    entity_prob_threshold: float = 0.65

    # canonicalization. The reference uses 0.20 with gensim-w2v relative
    # cosine similarity; this engine's deterministic PPMI model separates
    # synonyms/non-synonyms around ~0.7 (re-validated threshold, SURVEY §7 R3)
    similarity_threshold: float = 0.60
    num_clustering_levels: int = 3
    embedding_window: int = 4
    rcs_topn: int = 10
    # term-embedding backend for driver-exact clustering: "ppmi"
    # (deterministic hashed-PPMI, the CI default), "word2vec" (Spark MLlib
    # distributed skip-gram — the reference's gensim M4 restated per
    # SURVEY §7 R3), or "fasttext" (M5: same fit + post-hoc subword/OOV
    # composition). embedding_params feeds dim/epochs/seed/num_partitions
    # through to the builder.
    embedding_backend: str = "ppmi"
    embedding_params: dict = field(default_factory=dict)

    # argumentation
    sentiment_threshold: float = 0.95
    phrase_max_words: float = 128 * 0.3

    # root concept; None -> most frequent candidate term
    root_name: str | None = None

    # scale knob: when the candidate dictionary outgrows driver-exact clustering,
    # switch to distributed label propagation (operators/canonicalize.py)
    max_driver_cluster_terms: int = 512

    # scorer backend: "lexicon" (deterministic test scorer), "bert"
    # (requires torch/transformers; gated import), or "llm"
    # (prompted extraction, M7; FakeLLMClient by default, HFLLMClient via
    # scorer_params["llm_client"])
    scorer: str = "lexicon"
    scorer_params: dict = field(default_factory=dict)

    # checkpoint table format: "parquet" (works everywhere) or "iceberg"
    # (uses df.writeTo(...).using("iceberg") when a catalog is configured;
    # falls back to parquet with a warning when none is — SURVEY §1.4)
    table_format: str = "parquet"


DEFAULT_CONFIG = PipelineConfig()
