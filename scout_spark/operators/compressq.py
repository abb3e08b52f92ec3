"""Compression-ratio quality scoring (the Gopher/RefinedWeb signal).

zlib's deflate ratio separates natural prose (~0.3-0.7 at level 6)
from pathological repetition (ratio -> 0) and high-entropy noise
(ratio -> 1+).  The kernel is per-row-heavy Python, so it runs as an
Arrow-batched pandas UDF — the sanctioned slow path — and everything
around it stays in DataFrame land.  Ground truth pinned in
tests/test_operators.py (repetition < prose < random bytes).
"""

from __future__ import annotations

import zlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_LEVEL = 6


def compression_ratio(text: str) -> float:
    """compressed/raw length ratio for one string (level-6 deflate).

    Empty/None/non-string (a NaN null representation from pandas)
    maps to 1.0 (nothing to compress, nothing saved).
    """
    if not isinstance(text, str) or not text:
        return 1.0
    raw = text.encode("utf-8", "replace")
    return len(zlib.compress(raw, _LEVEL)) / len(raw)


def compression_ratio_udf(text: Column) -> Column:
    """Arrow-batched per-document deflate ratio column.

    The pandas_udf is created lazily (a DDL-string return type needs an
    active session to parse, and executors import this module without
    one — the vector.py decorate-inside-the-builder pattern).
    """

    @F.pandas_udf("double")
    def _ratio_udf(texts: pd.Series) -> pd.Series:
        return texts.map(compression_ratio)

    return _ratio_udf(text)
