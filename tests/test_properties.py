"""Property-based tests (hypothesis) for the parity-critical pieces:
the engine-portable rounding must agree with the DuckDB-side rewrite on
arbitrary doubles, and the text/price expressions must be idempotent /
total on arbitrary inputs."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from b2b_data_pipeline_indiamart_spark.functions.rounding import (
    floorize_round_sql,
    round_half_up,
)
from b2b_data_pipeline_indiamart_spark.functions.text import clean_text

SLOW = settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

FINITE = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
)


@pytest.mark.slow
@SLOW
@given(values=st.lists(FINITE, min_size=1, max_size=40), scale=st.integers(0, 4))
def test_round_half_up_matches_duckdb_rewrite(spark, values, scale):
    """Spark round_half_up(x, n) == the floorized SQL on DuckDB, for the
    same doubles — the invariant the whole oracle gate leans on."""
    df = spark.createDataFrame([(v,) for v in values], ["x"]).coalesce(1)
    got = [
        r["y"] for r in df.select(round_half_up(F.col("x"), scale).alias("y")).collect()
    ]
    con = duckdb.connect()
    sql = floorize_round_sql(f"SELECT round(x, {scale}) AS y FROM t ORDER BY rowid")
    con.execute("CREATE TABLE t (x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in values])
    want = [r[0] for r in con.execute(sql).fetchall()]
    con.close()
    assert got == want


@pytest.mark.slow
@SLOW
@given(texts=st.lists(st.text(max_size=60), min_size=1, max_size=20))
def test_clean_text_total_and_idempotent(spark, texts):
    """clean_text never throws on arbitrary unicode and is idempotent:
    cleaning a cleaned value changes nothing."""
    df = spark.createDataFrame([(t,) for t in texts], ["x"]).coalesce(1)
    once = df.select(clean_text(F.col("x")).alias("y"))
    twice = once.select(clean_text(F.col("y")).alias("y"))
    assert [r["y"] for r in once.collect()] == [r["y"] for r in twice.collect()]


@SLOW
@given(
    amount=st.integers(0, 10**9),
    unit=st.sampled_from(["Piece", "Set", "Unit", "Pair", "Kg"]),
)
@pytest.mark.slow
def test_price_roundtrip(spark, amount, unit):
    """Formatting a price the IndiaMART way and parsing it back recovers
    the number and the unit (etl.py:109-126 semantics)."""
    from b2b_data_pipeline_indiamart_spark.functions.prices import (
        parse_price_number,
        parse_price_unit,
    )

    raw = f"₹ {amount:,}/{unit}"
    df = spark.createDataFrame([(raw,)], ["x"]).coalesce(1)
    row = df.select(
        parse_price_number(F.col("x")).alias("n"),
        parse_price_unit(F.col("x")).alias("u"),
    ).collect()[0]
    assert row["n"] == float(amount)
    assert row["u"] == unit


@pytest.mark.parametrize("bad", ["", " ", "Ask Price", "Get Quote", "call us"])
def test_price_unparseable_is_null(spark, bad):
    from b2b_data_pipeline_indiamart_spark.functions.prices import parse_price_number

    df = spark.createDataFrame([(bad,)], ["x"])
    assert df.select(parse_price_number(F.col("x")).alias("n")).collect()[0]["n"] is None


@SLOW
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10_000)), min_size=1, max_size=25
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10_000)), min_size=0, max_size=25
    ),
)
def test_asof_join_matches_scalar_reference(spark, left, right):
    """The union+window as-of composition must agree with a direct
    scalar reference (latest right ts strictly before each left ts,
    same key) on arbitrary keyed integer timelines."""
    from b2b_data_pipeline_indiamart_spark.operators import temporal

    ldf = spark.createDataFrame(
        [(i, k, ts * 1_000_000) for i, (k, ts) in enumerate(left)],
        "id long, k long, ts long",
    ).withColumn("ts", F.timestamp_micros(F.col("ts")))
    rdf = spark.createDataFrame(
        [(k, ts * 1_000_000) for k, ts in right] or [],
        "k long, ts long",
    ).withColumn("ts", F.timestamp_micros(F.col("ts")))
    got = {
        r["id"]: r["matched_ts"]
        for r in temporal.asof_join(ldf, rdf, on=["k"]).collect()
    }

    for i, (k, ts) in enumerate(left):
        cands = [rts for rk, rts in right if rk == k and rts < ts]
        want_ts = max(cands) if cands else None
        got_ts = got[i]
        got_s = None if got_ts is None else int(got_ts.timestamp())
        assert got_s == want_ts, f"id {i}: want {want_ts}, got {got_s}"


@SLOW
@given(
    counts=st.lists(st.integers(0, 400), min_size=1, max_size=40),
    budget=st.integers(1, 500),
)
def test_pack_sequences_matches_python_reference(spark, counts, budget):
    """Distributed greedy packing == the sequential Python recurrence,
    bucket by bucket, for arbitrary token counts and budgets."""
    from b2b_data_pipeline_indiamart_spark.operators import packing

    df = spark.createDataFrame(
        list(enumerate(counts)), "doc_id long, n long"
    )
    got = {
        r["doc_id"]: (r["pack_bucket"], r["bin_id"], r["bin_fill"])
        for r in packing.pack_sequences(
            df, "n", budget=budget, n_buckets=3, bucket_mode="mod"
        ).collect()
    }
    buckets: dict[int, list[tuple[int, int]]] = {}
    for doc_id, n in enumerate(counts):
        buckets.setdefault(doc_id % 3, []).append((doc_id, n))
    for b, docs in buckets.items():
        bin_id, fill = 0, 0
        for doc_id, tok in sorted(docs):
            if fill > 0 and fill + tok > budget:
                bin_id += 1
                fill = 0
            fill += tok
            assert got[doc_id] == (b, bin_id, fill), f"doc {doc_id}"


# ---------------------------------------------------------------------------
# round-5 operators vs independent pure-Python references
# ---------------------------------------------------------------------------

_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]


def _py_chunks(tokens: list[str], size: int, stride: int):
    """Independent chunker: starts at 0, stride apart, until the window
    reaches the end; ragged tail allowed."""
    if not tokens:
        return []
    n_chunks = max(0, -(-(len(tokens) - size) // stride)) + 1
    out = []
    for i in range(n_chunks):
        piece = tokens[i * stride : i * stride + size]
        out.append((i, len(piece), " ".join(piece)))
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=30),
        min_size=1,
        max_size=6,
    ),
    size=st.integers(2, 8),
    stride_delta=st.integers(1, 4),
)
def test_chunk_documents_matches_python_reference(spark, docs, size, stride_delta):
    from b2b_data_pipeline_indiamart_spark.operators.packing import chunk_documents

    stride = max(1, size - stride_delta)
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(df, size=size, stride=stride).collect()
    )
    want = sorted(
        (i, cid, n, text)
        for i, toks in enumerate(docs)
        for cid, n, text in _py_chunks(toks, size, stride)
    )
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    train=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12),
        min_size=1,
        max_size=5,
    ),
    bench=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12),
        min_size=1,
        max_size=3,
    ),
    n=st.integers(2, 4),
)
def test_decontaminate_matches_python_reference(spark, train, bench, n):
    from b2b_data_pipeline_indiamart_spark.operators.decontam import decontaminate

    def grams(toks):
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    bench_grams = set().union(*(grams(t) for t in bench)) if bench else set()
    t_df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(train)], ["doc_id", "text"]
    )
    b_df = spark.createDataFrame(
        [(1000 + i, " ".join(toks)) for i, toks in enumerate(bench)],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["shared_ngrams"], r["contaminated"])
        for r in decontaminate(t_df, b_df, n=n).collect()
    }
    want = {
        i: (len(grams(toks) & bench_grams), len(grams(toks) & bench_grams) > 0)
        for i, toks in enumerate(train)
    }
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    values=st.lists(st.integers(-1000, 1000), min_size=1, max_size=60),
    n=st.integers(2, 7),
    parts=st.integers(1, 9),
)
def test_global_ntile_matches_window_form(spark, values, n, parts):
    """The distributed ranker must be hash-identical to
    ``ntile(n) OVER (ORDER BY v, k)`` for ANY values / bucket count /
    physical partitioning — this is the contract customer_rfm,
    docs_perplexity_buckets, and orders_value_deciles rest on."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from b2b_data_pipeline_indiamart_spark.operators import caching, ranking

    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(parts)
    got = {
        r["k"]: r["b"]
        for r in ranking.global_ntile(
            df, n, [F.col("v").asc(), F.col("k").asc()], "b"
        ).collect()
    }
    caching.release_cached()
    w = Window.orderBy(F.col("v").asc(), F.col("k").asc())
    ref = {
        r["k"]: r["b"]
        for r in df.withColumn("b", F.ntile(n).over(w)).collect()
    }
    assert got == ref


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    values=st.lists(st.integers(-1000, 1000), min_size=1, max_size=60),
    parts=st.integers(1, 9),
)
def test_global_cumsum_matches_window_form_property(spark, values, parts):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from b2b_data_pipeline_indiamart_spark.operators import caching, ranking

    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(parts)
    got = {
        r["k"]: r["c"]
        for r in ranking.global_cumsum(df, [F.col("k").asc()], "v", "c").collect()
    }
    caching.release_cached()
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref = {r["k"]: r["c"] for r in df.withColumn("c", F.sum("v").over(w)).collect()}
    assert got == ref


@pytest.mark.slow
@SLOW
@given(texts=st.lists(st.text(max_size=80), min_size=1, max_size=15))
def test_readability_total_and_bounded(spark, texts):
    """readability never throws on arbitrary unicode; counts are
    internally consistent (syllable groups can't exceed characters,
    sentences >= 1, flesch finite)."""
    import math

    from b2b_data_pipeline_indiamart_spark.operators import textstats

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    ).coalesce(1)
    for r in textstats.readability(docs).collect():
        assert r["n_words"] >= 1  # output rows are words>0 by contract
        assert r["n_sentences"] >= 1
        assert 0 <= r["n_syllables"]
        assert math.isfinite(r["flesch"])


@pytest.mark.slow
@SLOW
@given(texts=st.lists(st.text(max_size=80), min_size=1, max_size=15))
def test_quality_logit_prob_in_unit_interval(spark, texts):
    """quality_logit is total on arbitrary unicode and the sigmoid
    output is a probability: always in [0, 1], keep == prob >= 0.5."""
    from b2b_data_pipeline_indiamart_spark.operators import textstats

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    ).coalesce(1)
    for r in textstats.quality_logit(docs).collect():
        assert 0.0 <= r["quality_prob"] <= 1.0
        assert r["keep"] == (r["quality_prob"] >= 0.5)


@SLOW
@given(
    texts=st.lists(
        st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122), max_size=30),
        min_size=1,
        max_size=10,
    )
)
@pytest.mark.slow
def test_bpe_pair_counts_conservation(spark, texts):
    """Sum of all pair counts == sum over token instances of
    (len(token) - 1) for tokens of length >= 2 — the BPE trainer's
    invariant that every adjacent position is counted exactly once."""
    from b2b_data_pipeline_indiamart_spark.operators import dedup, textstats

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    ).coalesce(1)
    pairs = textstats.bpe_pair_counts(docs, top_n=10_000).collect()
    got = sum(r["pair_count"] for r in pairs)
    toks = docs.select(
        F.explode(dedup.word_tokens(F.col("text"))).alias("tok")
    ).collect()
    want = sum(len(r["tok"]) - 1 for r in toks if len(r["tok"]) >= 2)
    assert got == want


@SLOW
@given(
    users=st.lists(st.integers(0, 10_000), min_size=1, max_size=60),
    dup=st.integers(1, 4),
)
@pytest.mark.slow
def test_hll_portable_invariant_under_duplication(spark, users, dup):
    """The defining cardinality-sketch property: duplicating every row
    k times changes NOTHING — registers are maxima and the estimate is
    a pure function of the distinct key set."""
    from b2b_data_pipeline_indiamart_spark.operators.sketches import (
        hll_cardinality_portable,
    )

    once = spark.createDataFrame(
        [("g", u) for u in users], "event_type string, user_id long"
    )
    many = spark.createDataFrame(
        [("g", u) for u in users for _ in range(dup)],
        "event_type string, user_id long",
    )
    a = hll_cardinality_portable(once, "event_type", "user_id").collect()
    b = hll_cardinality_portable(many, "event_type", "user_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert a[0]["n_users_exact"] == len(set(users))
