"""E1 — extract: pages -> docs with byte-stable cleaned text.

Vectorized Arrow UDF over the binary `html` column; the scalar contract
lives in textproc.clean_text (reference: src/data/base_load_preprocess.py:10-32).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from llm_review_aggregation_spark import textproc as tp


# url -> group_id: the first path segment. One pattern for the JVM
# (regexp_extract) and Python (segment_pages) sides.
GROUP_ID_RE = r"^[a-z]+://[^/]+/([^/]+)/"


@pandas_udf(StringType())
def clean_text_udf(html: pd.Series) -> pd.Series:
    return html.map(tp.clean_text)


def extract_doc_groups(pages: DataFrame) -> DataFrame:
    """pages -> (url, group_id) with NO text extraction — the cheap
    projection consumers like E7's per-group review count need (one row per
    document). Keeping it UDF-free guarantees the lazy plan never pulls
    the clean_text pass in just to count documents per group."""
    return pages.select(
        F.col("url"),
        F.regexp_extract("url", GROUP_ID_RE, 1).alias("group_id"),
    )


def extract_docs(pages: DataFrame, carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> docs(url, group_id, text
    [, carry_cols...]).

    group_id = first path segment of the url (the product/group analog the
    synthesizer encodes; FIXTURES.md §1). The html scan is pruned to the
    needed columns so the parquet reader never materializes unused ones;
    `carry_cols` (e.g. warc_ts for streaming event time) widen that
    projection explicitly."""
    return pages.select(
        F.col("url"),
        F.regexp_extract("url", GROUP_ID_RE, 1).alias("group_id"),
        clean_text_udf(F.col("html")).alias("text"),
        *[F.col(c) for c in carry_cols],
    )
