"""Price parsing / bucketing column expressions.

Parity: reference ``etl.py`` ``parse_price_to_number`` (etl.py:109-118),
``extract_price_unit`` (etl.py:121-126), ``price_bucket``
(etl.py:200-207) — as Catalyst expressions (regexp_extract + when),
not Python UDFs, so the 100 TB hot path stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import clean_text


def parse_price_number(col: Column) -> Column:
    """Currency string → double; "Ask Price"/"Get Quote" → NULL.

    Parity: etl.py:109-118. Strips the rupee sign and thousands
    separators, then extracts the first decimal number. Each non-cheap
    step is named once: the quote test is one ``rlike`` (the literal
    alternation finds what the two ``contains`` tests found), and the
    top-level ``nullif`` binds its argument, which Spark computes once
    in a projection of its own (a ``when(num == "")`` test named the
    extract twice and doubled the chain under it).
    """
    s = clean_text(col)
    num = F.regexp_extract(F.regexp_replace(s, r"[₹,]", ""), r"(\d+(\.\d+)?)", 1)
    priced = F.when(~F.lower(s).rlike("ask price|get quote"), num)
    return F.nullif(priced, F.lit("")).cast("double")


def parse_price_unit(col: Column) -> Column:
    """Unit after the slash: "₹ 78,000/Piece" → "Piece" (etl.py:121-126)."""
    s = clean_text(col)
    unit = F.regexp_extract(s, r"/\s*([A-Za-z]+)", 1)
    return F.when(unit == "", F.lit(None).cast("string")).otherwise(F.initcap(unit))


def price_bucket(col: Column, low: float = 10_000.0, high: float = 50_000.0) -> Column:
    """Bucketize: NULL→Unknown, <low→Low, <high→Mid, else High.

    Parity: etl.py:200-207. Bucket labels match the reference exactly.
    """
    return (
        F.when(col.isNull(), F.lit("Unknown"))
        .when(col < low, F.lit("Low (<10k)"))
        .when(col < high, F.lit("Mid (10k-50k)"))
        .otherwise(F.lit("High (50k+)"))
    )
