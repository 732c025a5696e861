"""Scalar text helpers as pure Column expressions (SURVEY.md §2.8).

Every helper is a JVM-side built-in composition — no Python UDFs — so these
stay inside whole-stage codegen and cost nothing extra at 100 TB.

Reference parity notes cite /root/reference file:line in each docstring.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def slugify(col: Column) -> Column:
    """Lowercase, non-alnum runs -> '-', collapse, strip, default 'untitled'.

    Parity: zara_hybrid_etl.py:77-80 (re.sub chain + `or "untitled"`).
    """
    s = F.lower(col)
    s = F.regexp_replace(s, "[^a-z0-9]+", "-")
    s = F.regexp_replace(s, "-{2,}", "-")
    s = F.regexp_replace(s, "(^-)|(-$)", "")
    return F.coalesce(F.nullif(s, F.lit("")), F.lit("untitled"))


def safe_filename(col: Column, max_len: int = 50) -> Column:
    """Keep alnum/space/dash/underscore of the first `max_len` chars, spaces -> '_'.

    Parity: arxiv_hook.py:115-122 (char filter over title[:50], then space->_).
    """
    s = F.substring(col, 1, max_len)
    s = F.regexp_replace(s, "[^A-Za-z0-9 _-]", "")
    return F.regexp_replace(s, " ", "_")


def nonempty_tokens(col: Column) -> Column:
    """Array of maximal non-whitespace runs (Python `s.split()` semantics),
    robust to leading/trailing/repeated whitespace. Whitespace class is Java
    regex `\\s`; for ASCII input the only divergence from Python's
    definition is \\x1c-\\x1f, and for non-ASCII input Python additionally
    treats \\x85, \\xa0 and the Unicode spaces as whitespace — callers
    needing full Unicode parity should pre-normalize."""
    return F.filter(F.split(col, r"\s+"), lambda x: x != F.lit(""))


def word_count(col: Column) -> Column:
    """Whitespace token count; '' -> 0 (Python `len(s.split())` semantics,
    see nonempty_tokens for the whitespace-class caveats).

    Parity: zara_hybrid_etl.py:216 (`len(body.split())`).
    """
    return F.size(nonempty_tokens(col))


def extract_id(col: Column, sep: str = "/") -> Column:
    """Last path segment — `entry_id.split('/')[-1]` (arxiv_hook.py:81)."""
    return F.element_at(F.split(col, sep), -1)


def field_completeness(*cols: Column) -> Column:
    """Fraction of the given columns that are non-blank after trim.

    Parity: zara_hybrid_etl.py:218-219 (required-field completeness ratio).
    Exact rational: integer count cast to double / n.
    """
    n = len(cols)
    filled = None
    for c in cols:
        term = F.when(F.trim(F.coalesce(c, F.lit(""))) != "", F.lit(1)).otherwise(F.lit(0))
        filled = term if filled is None else filled + term
    return filled.cast("double") / F.lit(float(n))
