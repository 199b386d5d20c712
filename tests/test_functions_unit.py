"""§5.1 unit tests: every functions/ expression on literal edge cases
(nulls, ₹-strings, "Ask Price", whitespace, unicode)."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from b2b_data_pipeline_indiamart_spark.functions.geo import state_to_region
from b2b_data_pipeline_indiamart_spark.functions.hashing import (
    DEFAULT_SALT,
    digits_only,
    salted_sha256,
)
from b2b_data_pipeline_indiamart_spark.functions.prices import (
    parse_price_number,
    parse_price_unit,
    price_bucket,
)
from b2b_data_pipeline_indiamart_spark.functions.rounding import round_half_up
from b2b_data_pipeline_indiamart_spark.functions.text import (
    clean_text,
    is_valid_url,
    normalize_keyword,
    normalize_place,
    title_case,
    tokens,
)


def _eval(spark, expr, *values):
    """Evaluate a 1-arg column expression over literal inputs."""
    df = spark.createDataFrame([(v,) for v in values], ["x"]).coalesce(1)
    return [r["y"] for r in df.select(expr(F.col("x")).alias("y")).collect()]


def test_clean_text_edges(spark):
    got = _eval(
        spark, clean_text,
        "  hello   world ", "NaN", "none", "NULL", "", "  ", None, "été  chaud",
    )
    assert got == ["hello world", None, None, None, None, None, None, "été chaud"]


def test_title_case_and_place(spark):
    assert _eval(spark, title_case, "tamil  nadu", None) == ["Tamil Nadu", None]
    assert _eval(spark, normalize_place, "tamilnadu", "goa") == ["Tamil Nadu", "Goa"]


def test_normalize_keyword_aliases(spark):
    got = _eval(
        spark, normalize_keyword,
        "Bakery Oven,", "Wet & Dry Vacuum Cleaner", "LED TV  ", None,
    )
    assert got == ["bakery oven", "wet and dry vacuum cleaner", "led tv", None]


def test_tokens_min_len(spark):
    got = _eval(spark, tokens, "The Big-Blue OVEN 42 x")
    assert got == [["the", "big", "blue", "oven"]]


def test_is_valid_url(spark):
    got = _eval(
        spark, is_valid_url,
        "https://example.com/p/1", "http://a.b", "ftp://x", "example.com", None,
    )
    assert got == [True, True, False, False, None]


def test_parse_price_number_edges(spark):
    got = _eval(
        spark, parse_price_number,
        "₹ 78,000/Piece", "1,23,456.50", "Ask Price", "Get Quote", "free", None, "₹12",
    )
    assert got == [78000.0, 123456.5, None, None, None, None, 12.0]


def _regex_calls(spark, expr):
    """(regexp_replace, regexp_extract) calls in the optimized plan of
    ``expr`` over one string column."""
    df = spark.createDataFrame([("x",)], "x string")
    plan = str(df.select(expr(F.col("x")).alias("y"))._jdf.queryExecution().optimizedPlan())
    return plan.count("regexp_replace("), plan.count("regexp_extract(")


def test_keyword_and_price_expressions_are_linear_size(spark, monkeypatch):
    """A ``when(out == bad, good).otherwise(out)`` alias chain names the
    previous step twice, so the keyword expression doubles per alias:
    32 regexp_replace calls for the 4 real aliases, 512 for 8. Its
    generated method outgrew HotSpot's 8 KB JIT limit and ran
    interpreted. The flat CASE holds one cleaned copy (two calls) per
    alias plus the ELSE. The price parse held 14 regexp_replace and 2
    regexp_extract calls before each step was named once."""
    from b2b_data_pipeline_indiamart_spark.functions import text

    assert _regex_calls(spark, normalize_keyword)[0] <= 2 * (len(text._KEYWORD_FIXES) + 1)
    aliases = {f"bad {i}": f"good {i}" for i in range(8)}
    monkeypatch.setattr(text, "_KEYWORD_FIXES", aliases)
    replaces, _ = _regex_calls(spark, normalize_keyword)
    assert replaces <= 2 * (len(aliases) + 1), replaces
    got = _eval(spark, normalize_keyword, "Bad 3", " bad  7 ", "bad 9", None)
    assert got == ["good 3", "good 7", "bad 9", None]
    replaces, extracts = _regex_calls(spark, parse_price_number)
    assert replaces <= 5 and extracts <= 1, (replaces, extracts)


def test_parse_price_unit_edges(spark):
    got = _eval(
        spark, parse_price_unit,
        "₹ 78,000/Piece", "₹ 5 / set", "₹ 900", None,
    )
    assert got == ["Piece", "Set", None, None]


def test_price_bucket_labels(spark):
    df = spark.createDataFrame(
        [(None,), (0.0,), (9999.99,), (10000.0,), (49999.0,), (50000.0,)],
        ["x"],
    )
    got = [r["y"] for r in df.select(price_bucket(F.col("x")).alias("y")).collect()]
    assert got == [
        "Unknown", "Low (<10k)", "Low (<10k)",
        "Mid (10k-50k)", "Mid (10k-50k)", "High (50k+)",
    ]


def test_state_to_region(spark):
    got = _eval(
        spark, state_to_region,
        "Tamil Nadu", "  GUJARAT ", "Delhi", "West Bengal", "Sikkim", "", None,
    )
    assert got == ["South", "West", "North", "East", "Other/Unknown", "Unknown", "Unknown"]


def test_digits_only(spark):
    got = _eval(spark, digits_only, "+91 98765-43210", "abc", None)
    assert got == ["919876543210", None, None]


def test_salted_sha256_matches_reference_scheme(spark):
    # etl.py:148-152: sha256("<salt>::<value>")
    expected = hashlib.sha256(f"{DEFAULT_SALT}::9198".encode()).hexdigest()
    assert _eval(spark, salted_sha256, "9198", None) == [expected, None]


@pytest.mark.parametrize(
    "value,digits,expected",
    # convention: halves round toward +inf (floor(x*10^n + 0.5)) — the
    # engine-portable definition both Spark and the DuckDB oracle share
    [(2.675, 2, 2.68), (2.5, 0, 3.0), (-2.5, 0, -2.0), (1.0005, 3, 1.001)],
)
def test_round_half_up_ties(spark, value, digits, expected):
    df = spark.createDataFrame([(value,)], ["x"])
    got = df.select(round_half_up(F.col("x"), digits).alias("y")).collect()[0]["y"]
    assert got == expected


def test_decode_isq_reference_parity(spark):
    """Byte parity with reference scraper.py:263-281 decode_isq on every
    edge class: percent escapes, '#' split after decode, first-':' split,
    trim, no-colon drop, empty-key drop, last-key-wins, '+' literal."""
    import urllib.parse

    from b2b_data_pipeline_indiamart_spark.functions.isq import decode_isq

    def ref(isq_raw):
        if not isq_raw:
            return {}
        result = {}
        for part in urllib.parse.unquote(isq_raw).split("#"):
            if ":" in part:
                k, v = part.split(":", 1)
                k, v = k.strip(), v.strip()
                if k:
                    result[k] = v
        return result

    cases = [
        "Brand%3ADaikin%23Capacity%3A2.8%20kW%23Type%3ASplit%20Ac",
        "Brand%3AFIRST%23Brand%3ASECOND",  # last occurrence wins
        "NoColonPart%23K%3AV",  # no-colon part dropped
        "%3Anokey%23K%3AV",  # empty key dropped
        "K%3Aa%3Ab%3Ac",  # split on FIRST colon only
        "  K %3A  v v  ",  # both sides trimmed
        "a+b%3Ac+d",  # '+' stays literal (unquote, not form-decode)
        "K%3A",  # empty value kept
        "",
        "Discount%3A50%",  # malformed trailing escape passes through
        "K%3Aa%zzb",  # malformed mid-string escape passes through
        "K%3A100%25%",  # valid %25 decoded, stray trailing % literal
        "%",  # bare percent
    ]
    got = _eval(spark, decode_isq, *cases)
    assert got == [ref(c) for c in cases]
    assert _eval(spark, decode_isq, "K%3AV", None) == [{"K": "V"}, None]


def test_approx_users_error_bound(spark, sf_medium):
    """HLL++ estimate must land within ~3×rsd of the exact distinct
    count, and be deterministic across partitionings (the sketch is a
    pure function of the value set)."""
    from b2b_data_pipeline_indiamart_spark import catalog
    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    approx = {
        r["event_type"]: r["approx_users"]
        for r in QUERIES["events_approx_users"](spark, sf_medium).collect()
    }
    events = catalog.load(spark, sf_medium, "events")
    from pyspark.sql import functions as F

    exact = {
        r["event_type"]: r["exact"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    for etype, est in approx.items():
        assert abs(est - exact[etype]) <= max(3, 0.06 * exact[etype])
    again = {
        r["event_type"]: r["approx_users"]
        for r in QUERIES["events_approx_users"](spark, sf_medium).collect()
    }
    assert approx == again
