"""Skew handling: salted pre-aggregation (north rule: "skewed head entities
are handled with salted pre-aggregation and AQE skew-join hints").

For algebraic aggregates (count/sum/min/max) Catalyst's partial (map-side)
aggregation already neutralizes key skew — one combiner row per partition per
key. Salting earns its keep where partial aggregation does NOT apply or does
not bound state:

- holistic aggregates with per-key state proportional to group size
  (collect_list/collect_set of phrases per head aspect);
- two-phase top-k per key over skewed keys;
- pre-aggregation before a shuffle join on a skewed key (paired with AQE
  skew-join splitting for the residual join).

``salted_agg`` runs groupBy(keys + salt) -> partial aggregate ->
groupBy(keys) -> merge. The salt spreads one hot key over ``SALT_MOD``
reducers in phase 1, bounding any single task's state.

Reference analog: the A1/A6 accumulations (Counter updates / matrix sums,
aspects/manager.py:34-36, bert_rel_extractor.py:46-68) are single-process in
the reference; SURVEY §4 "Skew handling" specifies this generalization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_MOD = 16


def with_salt(df: DataFrame, salt_mod: int) -> DataFrame:
    """Per-row salt column `_salt` in [0, salt_mod): a hash of the row's
    columns AND its row id, so the rows of one hot key spread over the salt
    values even when the key is the only column. The row id makes the salt
    fixed for a given input partitioning, not across repartitionings;
    results do not depend on it, because the merge phase sums or unions the
    partials."""
    row = F.struct(*[F.col(c) for c in df.columns])
    return df.withColumn("_salt", F.pmod(F.hash(row, F.monotonically_increasing_id()), F.lit(salt_mod)))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    partial_aggs: list[Column],
    merge_aggs: list[Column],
) -> DataFrame:
    """Two-stage skew-safe aggregation.

    ``partial_aggs`` run per (keys, salt); ``merge_aggs`` combine the partials
    per keys. Column names must line up: each merge agg consumes the alias its
    partial produced.

    Example — skew-safe distinct-phrase collection per aspect::

        salted_agg(
            df, ["aspect"],
            partial_aggs=[F.collect_set("phrase").alias("ps")],
            merge_aggs=[F.array_distinct(F.flatten(F.collect_list("ps"))).alias("phrases")],
        )
    """
    salted = with_salt(df, SALT_MOD)
    partial = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*merge_aggs)


def salted_count(df: DataFrame, keys: list[str]) -> DataFrame:
    """Skew-safe count per key (equivalent to groupBy(keys).count())."""
    return salted_agg(
        df,
        keys,
        partial_aggs=[F.count(F.lit(1)).alias("_c")],
        merge_aggs=[F.sum("_c").alias("count")],
    )


def salted_topk_by_count(df: DataFrame, key: str, k: int) -> DataFrame:
    """Global top-k keys by frequency with the lexicographic tiebreak pinned
    (SURVEY §7 R1) — the skew-safe form of A2 candidate ranking."""
    counts = salted_count(df, [key])
    return counts.orderBy(F.desc("count"), F.asc(key)).limit(k)
