"""Name/text normalization (SURVEY.md §2.8 F1-F4).

The reference has two normalizers with divergent semantics:
  - SQL macro ``gaz.canon`` (reference sql/migrations/000_init.sql:5-11):
    strip all non-alphanumerics to space, collapse whitespace, trim, lower.
    DuckDB's RE2 ``[[:alnum:]]`` is ASCII-only, so non-Latin scripts are
    stripped entirely.
  - Python ``norm`` (reference ranking.py:5-12): strips a fixed ASCII
    punctuation list (notably KEEPING ``-``), preserving unicode letters.

Per SURVEY.md §7 we unify on one unicode-aware normalizer (``canon``) for
the engine, and keep an ASCII-exact variant (``canon_ascii``) whose
semantics are bit-identical between Spark (Java regex) and DuckDB (RE2) for
oracle-checked queries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def canon(col: Column | str) -> Column:
    """Unicode-aware canonical form: lower, strip non-letter/digit to
    space, collapse runs of whitespace, trim.

    Engine-internal normalizer (unifies reference 000_init.sql:5-11 with
    ranking.py:5-12; divergence documented in SURVEY.md §2.8 F2).
    """
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(
        F.lower(F.coalesce(c, F.lit(""))), r"[^\p{L}\p{N}\s]", " "
    )
    return F.trim(F.regexp_replace(stripped, r"\s+", " "))


CANON_SQL = (
    "trim(regexp_replace(regexp_replace(lower(coalesce({col}, '')),"
    r" r'[^\p{{L}}\p{{N}}\s]', ' '), r'\s+', ' '))"
)
"""Spark SQL rendering of ``canon``, a ``str.format`` template over
``{col}`` like ``CANON_ASCII_SQL`` (raw literals keep the patterns
independent of the parser's escape setting)."""


def canon_ascii(col: Column | str) -> Column:
    """ASCII-exact canonical form matching DuckDB RE2 ``[[:alnum:]]``
    semantics: identical results in Spark and the DuckDB oracle.

    lower → replace [^a-z0-9 ] with space (this also swallows tabs and
    newlines) → collapse runs of spaces → trim.
    """
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), "[^a-z0-9 ]", " ")
    return F.trim(F.regexp_replace(stripped, " +", " "))


CANON_ASCII_SQL = (
    "trim(regexp_replace(regexp_replace(lower(coalesce({col}, '')),"
    " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
)
"""DuckDB-dialect rendering of ``canon_ascii`` for oracle SQL strings."""


def tokens(col: Column | str) -> Column:
    """Token list of the canonical form (reference ranking.py:15-16).

    Returns array<string> with empties removed. Implemented as ONE
    regexp_extract_all pass — maximal letter/digit runs of the lowered
    text are exactly canon()'s space-split tokens — because the
    filter-HOF formulation runs interpreted per element and the two
    extra regexp_replace passes dominate token-heavy plans (measured
    29× on a 12M-token explode; see CLAUDE.md perf rules).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(
        F.lower(F.coalesce(c, F.lit(""))), F.lit(r"[\p{L}\p{N}]+"), 0
    )


def dedup_tokens(col: Column) -> Column:
    """Order-preserving first-occurrence token dedup
    (reference app.py:93-95 → Spark ``array_distinct`` keeps first)."""
    return F.array_distinct(col)
