"""The two Arrow kernels of the ANN family — ``similarity.ivf_assign``
(nearest cells) and ``similarity.pq_encode`` (nearest codewords) —
pinned bit for bit against the Catalyst rank they replaced, which
lives on here as the reference: a cross join of vectors and codebook,
the similarity (or distance) rounded BEFORE the rank, and a window
per vector with the lower id on ties. The DuckDB oracles of the seeded
twins state the same rule, so a kernel that drifts from it would pass
its own keys and fail theirs."""

from __future__ import annotations

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from b2b_data_pipeline_indiamart_spark.functions.rounding import round_half_up
from b2b_data_pipeline_indiamart_spark.operators.similarity import (
    _matrix,
    _unit_projection,
    cosine_pair,
    dot,
    ivf_assign,
    norm,
    pq_encode,
    py_norm,
)

PIN = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

#: coordinates: small integers make exact similarity ties common,
#: bounded floats cover the general case
COORD = st.one_of(
    st.integers(-3, 3).map(float),
    st.floats(-4, 4, allow_nan=False, allow_infinity=False),
)


def _vec(dim: int):
    return st.lists(COORD, min_size=dim, max_size=dim)


@st.composite
def _corpus(draw, dim_range=(1, 6)):
    """(vectors, codebook rows, ids): random vectors with zero vectors
    mixed in, and a codebook that may repeat a row (exact ties) and
    whose ids are neither dense nor sorted."""
    dim = draw(st.integers(*dim_range))
    vec = _vec(dim)
    book = draw(st.lists(vec, min_size=1, max_size=6))
    if draw(st.booleans()):
        book = book + [book[0]]
    vecs = draw(st.lists(st.one_of(vec, st.just([0.0] * dim)), min_size=1, max_size=16))
    n = len(book)
    ids = draw(st.lists(st.integers(0, 10**12), min_size=n, max_size=n, unique=True))
    return vecs, book, ids


def _emb(spark, vecs):
    return spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    ).coalesce(1)


def _reference_rank(sims: DataFrame, n: int) -> list:
    """The replaced Catalyst rank over (vid, cid, __sim): the ``n``
    highest 6dp similarities per vector, NULL last, ties to the lower
    cid."""
    w = Window.partitionBy("vid").orderBy(F.col("__sim").desc(), F.col("cid").asc())
    ranked = sims.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= n)
    return sorted((r["vid"], r["cid"]) for r in ranked.collect())


def _kernel_cells(emb, book, n):
    return sorted((r["id"], r["cell"]) for r in ivf_assign(emb, book, n_probe=n).collect())


@PIN
@given(case=_corpus(), n=st.sampled_from([1, 4]))
def test_ivf_assign_matches_catalyst_cosine_rank(spark, case, n):
    """Cosine rule: ``round_half_up(cosine_pair(v, c, |v|, |c|), 6)``
    with the norms hoisted per vector; a zero vector's cosine is NULL
    and every cell ties, so it goes to the lowest ids."""
    vecs, book, ids = case
    emb = _emb(spark, vecs)
    seeds = spark.createDataFrame(list(zip(ids, book)), "cid long, se array<double>")
    v = emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("e"))
    sims = (
        v.withColumn("n", norm(F.col("e")))
        .crossJoin(seeds.withColumn("sn", norm(F.col("se"))))
        .select(
            "vid",
            "cid",
            round_half_up(cosine_pair(F.col("e"), F.col("se"), F.col("n"), F.col("sn")), 6).alias(
                "__sim"
            ),
        )
    )
    codebook = [(i, c, py_norm(c)) for i, c in zip(ids, book)]
    assert _kernel_cells(emb, codebook, n) == _reference_rank(sims, n)


@PIN
@given(case=_corpus(), n=st.sampled_from([1, 4]))
def test_ivf_assign_unit_rule_matches_catalyst_dot_rank(spark, case, n):
    """Unit rule (norms None): the rank is the plain 6dp dot, as the
    IVF-PQ keys rank their unit vectors."""
    vecs, book, ids = case
    emb = _emb(spark, vecs)
    seeds = spark.createDataFrame(list(zip(ids, book)), "cid long, se array<double>")
    sims = (
        emb.crossJoin(seeds)
        .select(
            F.col("vec_id").alias("vid"),
            "cid",
            round_half_up(dot(F.col("embedding"), F.col("se")), 6).alias("__sim"),
        )
    )
    codebook = [(i, c, None) for i, c in zip(ids, book)]
    assert _kernel_cells(emb, codebook, n) == _reference_rank(sims, n)


def _d2_unrolled(a: Column, b: Column, n: int) -> Column:
    """Squared L2 distance of two length-``n`` arrays as the unrolled
    left-to-right sum ``((0.0 + d₁²) + d₂²) + …``."""
    d2: Column = F.lit(0.0)
    for i in range(1, n + 1):
        di = F.element_at(a, i) - F.element_at(b, i)
        d2 = d2 + di * di
    return d2


@st.composite
def _pq_case(draw):
    """(vectors, books, centroids or None): m subspaces of width dsub,
    codebooks that may repeat a codeword (exact ties)."""
    m, dsub = draw(st.integers(1, 3)), draw(st.integers(1, 4))
    books = []
    for _ in range(m):
        book = draw(st.lists(_vec(dsub), min_size=1, max_size=5))
        books.append(book + [book[0]] if draw(st.booleans()) else book)
    k = min(len(b) for b in books)
    books = [b[:k] for b in books]
    dim = m * dsub
    vecs = draw(st.lists(st.one_of(_vec(dim), st.just([0.0] * dim)), min_size=1, max_size=12))
    cents = draw(st.one_of(st.none(), st.lists(_vec(dim), min_size=1, max_size=4)))
    return vecs, books, cents


@PIN
@given(case=_pq_case())
def test_pq_encode_matches_catalyst_argmin(spark, case):
    """Per subspace the code is the argmin of the 9dp-rounded unrolled
    squared distance, ties to the lower code, over the unit vector —
    or, with coarse centroids, over its residual to the nearest
    centroid by the unit rule."""
    vecs, books, cents = case
    m, dsub = len(books), len(books[0][0])
    emb = _emb(spark, vecs)
    u = _unit_projection(emb, "embedding", "vec_id", "vid")
    if cents is None:
        res = u.select("vid", F.lit(None).cast("long").alias("cell"), F.col("__unit").alias("res"))
    else:
        cdf = spark.createDataFrame(list(enumerate(cents)), "cid long, c array<double>")
        sims = u.crossJoin(cdf).select(
            "vid", "cid", round_half_up(dot(F.col("__unit"), F.col("c")), 6).alias("__sim")
        )
        cell = dict(_reference_rank(sims, 1))
        cells = spark.createDataFrame(list(cell.items()), "vid long, cid long")
        res = (
            u.join(cells, "vid")
            .join(cdf, "cid")
            .select(
                "vid",
                F.col("cid").alias("cell"),
                F.zip_with("__unit", "c", lambda a, b: a - b).alias("res"),
            )
        )
    book = spark.createDataFrame(
        [(s, c, cw) for s, b in enumerate(books) for c, cw in enumerate(b)],
        "s int, code int, cw array<double>",
    )
    subs = res.select(
        "vid", "cell", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s"), "res"
    ).select("vid", "cell", "s", F.slice("res", F.col("s") * dsub + 1, dsub).alias("sub"))
    d2 = subs.join(book, "s").select(
        "vid",
        "cell",
        "s",
        "code",
        round_half_up(_d2_unrolled(F.col("sub"), F.col("cw"), dsub), 9).alias("__d2"),
    )
    w = Window.partitionBy("vid", "s").orderBy(F.col("__d2").asc(), F.col("code").asc())
    want = sorted(
        (r["vid"], r["cell"], r["s"], r["code"])
        for r in d2.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").collect()
    )
    coarse = None if cents is None else [(i, c, None) for i, c in enumerate(cents)]
    got = sorted(
        (r["vec_id"], r["cell"] if cents is not None else None, s, code)
        for r in pq_encode(emb, books, centroids=coarse).collect()
        for s, code in enumerate(r["codes"])
    )
    assert got == want


@given(
    lengths=st.lists(st.integers(0, 5), min_size=2, max_size=8).filter(
        lambda ls: len(set(ls)) > 1
    )
)
def test_ragged_vectors_raise_not_reshape(lengths):
    """Vectors of different lengths raise ValueError, even when the
    values would fill a rectangle (lengths 3 and 1 as a 2×2)."""
    col = pa.array([[float(i)] * n for i, n in enumerate(lengths)], pa.list_(pa.float64()))
    with pytest.raises(ValueError):
        _matrix(col)


def test_ragged_vectors_fail_the_assign_job(spark):
    """The same through Spark: the kernel's ValueError fails the job."""
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [4.0])], "vec_id long, embedding array<double>"
    ).coalesce(1)
    with pytest.raises(Exception, match="ValueError"):
        ivf_assign(emb, [[1.0, 0.0]]).collect()
