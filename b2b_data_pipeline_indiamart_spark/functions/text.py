"""Text cleaning / normalization column expressions.

Parity: reference ``etl.py`` helpers ``clean_text`` (etl.py:99-106),
``normalize_keyword`` (etl.py:155-166), ``normalize_city_state``
(etl.py:169-175) — re-expressed as Catalyst column expressions so they run JVM-side inside whole-stage codegen
instead of a per-row Python ``.apply``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tokens the reference treats as "actually null" after cleaning
NULL_TOKENS = ("nan", "none", "null", "")


def clean_text(col: Column) -> Column:
    """Trim, collapse internal whitespace, scrub null-ish tokens to NULL.

    Parity: etl.py:99-106 (``clean_text``). Order matters: collapse
    FIRST, then trim — SQL ``trim`` strips only spaces (U+0020) while
    Python ``str.strip`` strips every whitespace char, so
    trim-then-collapse would leave ``"\\rhello"`` as ``" hello"``.
    Collapsing first turns any edge whitespace into plain spaces that
    trim then removes; this also makes the expression idempotent
    (property-tested in tests/test_properties.py).
    """
    s = F.trim(F.regexp_replace(col.cast("string"), r"\s+", " "))
    return F.when(F.lower(s).isin(*NULL_TOKENS), F.lit(None).cast("string")).otherwise(s)


def title_case(col: Column) -> Column:
    """Initcap-style title casing of a cleaned string (etl.py:272)."""
    return F.initcap(clean_text(col))


def normalize_place(col: Column) -> Column:
    """City/state normalization: title case + alias fixes.

    Parity: etl.py:169-175 (``normalize_city_state``) — e.g.
    "Tamilnadu" → "Tamil Nadu".
    """
    s = title_case(col)
    return F.regexp_replace(s, r"\bTamilnadu\b", "Tamil Nadu")


#: keyword alias fixes, parity etl.py:160-165
_KEYWORD_FIXES = {
    "bakery oven,": "bakery oven",
    "wet & dry vacuum cleaner": "wet and dry vacuum cleaner",
    "built-in dishwasher": "built in dishwasher",
    "semi automatic washing machine": "semi-automatic washing machine",
}


def normalize_keyword(col: Column) -> Column:
    """Lower-cased, whitespace-collapsed keyword with alias fixes.

    Parity: etl.py:155-166 (``normalize_keyword``). The alias map is one
    flat ``CASE WHEN s = bad THEN good … ELSE s END``, so the expression
    grows linearly with the map. A chain of
    ``when(out == bad, good).otherwise(out)`` names the previous step
    twice and doubles per alias (Catalyst does not fold it): with four
    aliases it held 16 copies of the cleaned keyword. Flat is exact
    because no fixed value equals a later alias key.
    """
    s = F.lower(clean_text(col))
    out = F  # F.when opens the CASE, Column.when extends it
    for bad, good in _KEYWORD_FIXES.items():
        out = out.when(s == bad, F.lit(good))
    return out.otherwise(s)


def tokens(col: Column, min_len: int = 3) -> Column:
    """Lower-case word tokens of length >= min_len.

    Parity: reference ``reports/top_product_tokens.csv`` tokenization.
    Returns array<string>; explode downstream for counting.
    """
    arr = F.split(F.lower(F.trim(col)), r"[^a-z0-9]+")
    return F.filter(arr, lambda t: F.length(t) >= min_len)


def is_valid_url(col: Column) -> Column:
    """http(s) URL with a netloc (etl.py:129-137)."""
    s = clean_text(col)
    return s.rlike(r"^https?://[^/\s]+")
