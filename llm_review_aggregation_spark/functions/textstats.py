"""Text-analysis operators for large-scale corpus pipelines: token counting,
quality scoring, language ID, fingerprinting, simhash.

Everything except simhash is pure JVM-side column expressions (whole-stage
codegen, SQL-oracle-able); simhash needs per-token bit accumulation and is a
vectorized pandas UDF.
"""

from __future__ import annotations

import hashlib

import numpy as _np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from llm_review_aggregation_spark.textproc import STOPWORDS

# a compact, fixed stopword list for ratio features (JVM-side array literal)
_STOP_ARR = sorted(STOPWORDS)


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization, empties dropped — deliberately simple so the
    same expression is writable in ANSI SQL for the oracle."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def n_tokens(text: Column) -> Column:
    return F.size(tokens_col(text))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^a-zA-Z0-9\s]", "")
    return (F.length(text) - F.length(stripped)) / F.greatest(F.length(text), F.lit(1))


def stopword_ratio(text: Column) -> Column:
    toks = tokens_col(text)
    stops = F.array(*[F.lit(s) for s in _STOP_ARR])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return n_stop / F.greatest(F.size(toks), F.lit(1))


def lang_guess(text: Column) -> Column:
    """Heuristic language ID: English iff the stopword ratio clears 0.12
    (n-gram/freq heuristics reduce to this on clean ASCII text)."""
    return F.when(stopword_ratio(text) >= 0.12, F.lit("en")).otherwise(F.lit("unknown"))


def quality_score(text: Column) -> Column:
    """[0,1] quality: length saturation + low punctuation + stopword
    plausibility. Weights are engine-defined and mirrored in the SQL oracle."""
    len_part = F.least(n_tokens(text) / F.lit(100.0), F.lit(1.0))
    punct_part = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 4)
    stop_part = F.least(stopword_ratio(text) * 5, F.lit(1.0))
    return 0.4 * len_part + 0.3 * punct_part + 0.3 * stop_part


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercased text."""
    norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(F.encode(norm, "utf-8"))


# ---------------------------------------------------------------------------
# SimHash (64-bit) — pandas UDF (per-token bit voting)
# ---------------------------------------------------------------------------


_MD5_CACHE: dict[str, int] = {}


def _tok_hash64(tok: str) -> int:
    h = _MD5_CACHE.get(tok)
    if h is None:
        h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
        if len(_MD5_CACHE) < 1_000_000:
            _MD5_CACHE[tok] = h
    return h


_SHIFTS = _np.arange(64, dtype=_np.uint64)


def _simhash64(text: str) -> int:
    """64-bit simhash: per-bit majority vote over token md5 hashes.
    Vectorized (numpy bit matrix); bit set iff strictly more 1s than 0s —
    identical output to the per-bit accumulator formulation."""
    toks = (text or "").lower().split()
    if not toks:
        return -(2**63)
    hs = _np.fromiter((_tok_hash64(t) for t in toks), dtype=_np.uint64, count=len(toks))
    ones = ((hs[:, None] >> _SHIFTS) & _np.uint64(1)).sum(axis=0)
    bits = (ones * 2 > len(toks)).astype(_np.uint64)
    v = int((bits << _SHIFTS).sum(dtype=_np.uint64))
    return v - 2**63  # signed long


@pandas_udf(LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    return text.map(_simhash64)
