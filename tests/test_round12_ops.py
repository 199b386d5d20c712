"""Round-12 additions: exact_sum wide path (ADVICE r11), scale_up's
signed-permutation embedding rotations and word-salt de-tiling
(VERDICT r11 #5).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def test_exact_sum_wide_matches_long_path(spark):
    """ADVICE r11: wide=True must be value-identical to the default
    long path whenever the total is inside long range — it exists so a
    100 TB deployment can flip one flag and trade nothing but the
    2^63 wrap hazard for a DECIMAL(38,0) aggregate."""
    from b2b_data_pipeline_indiamart_spark.functions.rounding import (
        exact_sum, money_ints,
    )

    rows = [(100.01, 0.05, 0.07), (2.50, 0.0, 0.02),
            (99999.99, 0.10, 0.0), (0.01, 0.01, 0.01)] * 7
    df = spark.createDataFrame(rows, ["price", "disc", "tax"])
    prod = (
        money_ints("price")
        * money_ints(F.lit(1) - F.col("disc"))
        * money_ints(F.lit(1) + F.col("tax"))
    )
    narrow, wide = df.agg(
        exact_sum(prod, den_scale=6).alias("narrow"),
        exact_sum(prod, den_scale=6, wide=True).alias("wide"),
    ).first()
    assert narrow == wide
    # and the wide plan really aggregates a decimal, not a long
    plan = df.agg(
        exact_sum(prod, den_scale=6, wide=True).alias("s")
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "decimal(38,0)" in plan


def test_scale_up_rotations_are_signed_permutations():
    """The per-replica embedding transform must be orthogonal (a
    signed permutation) and deterministic — the property that makes
    the sf1 corpus's within-replica geometry EXACTLY the generator's
    while cross-replica cosines collapse to ~N(0, 1/dim)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools.scale_up import _rotations

    k, dim = 10, 64
    perms, signs = _rotations(k, dim)
    again = _rotations(k, dim)
    assert (perms, signs) == again  # deterministic rebuilds
    seen = set()
    for r in range(k):
        assert sorted(perms[r]) == list(range(1, dim + 1))  # permutation
        assert set(signs[r]) <= {-1, 1}
        seen.add(tuple(perms[r]) + tuple(signs[r]))
    assert len(seen) == k  # replicas get DISTINCT transforms
    # orthogonality in action: a signed permutation preserves inner
    # products within a replica...
    v = [float(i % 7 - 3) for i in range(dim)]
    w = [float((i * 3) % 5 - 2) for i in range(dim)]

    def apply(r, x):
        return [signs[r][d] * x[perms[r][d] - 1] for d in range(dim)]

    dot = sum(a * b for a, b in zip(v, w))
    for r in (1, 5, 9):
        rv, rw = apply(r, v), apply(r, w)
        assert sum(a * b for a, b in zip(rv, rw)) == pytest.approx(dot)
    # ...while cross-replica self-similarity collapses to ~N(0, 1/64)
    # (vs the old 1e-4-nudge's cos ~= 1.0): over hash-derived
    # pseudo-random unit vectors, mean |cos| tracks the half-normal
    # mean 0.8/8 = 0.1 and no sample goes anywhere near the 0.3
    # thresholds' danger zone of ~1.0
    import hashlib
    import math

    cosines = []
    for vi in range(20):
        u = [
            (hashlib.md5(f"v{vi}_{d}".encode()).digest()[0] - 127.5)
            for d in range(dim)
        ]
        nu2 = sum(x * x for x in u)
        for r in range(1, k):
            ru = apply(r, u)
            cosines.append(
                abs(sum(a * b for a, b in zip(u, ru)) / nu2)
            )
    assert sum(cosines) / len(cosines) < 0.2
    assert max(cosines) < 4.5 / math.sqrt(dim)  # 4.5 sigma


def test_scale_up_tiles_every_row_k_times(spark, sf_small, tmp_path, monkeypatch):
    """The invariant behind ``build``'s ``n = src.count() * k`` row
    count at k >= 1000: every tiled table holds exactly k copies of its
    source rows, and the fixed dims (region, nation) are copied once."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools import scale_up

    from b2b_data_pipeline_indiamart_spark import catalog

    monkeypatch.setattr(scale_up, "SRC", sf_small)
    scale_up.build(tmp_path, 2, spark=spark)
    for table, (pk, fks) in scale_up.KEYMAP.items():
        copies = 1 if pk is None and not fks else 2
        src = catalog.load(spark, sf_small, table).count()
        out = spark.read.parquet(str(tmp_path / f"{table}.parquet")).count()
        assert out == copies * src, (table, src, out)


def test_scale_up_word_salt_breaks_cross_replica_shingles(spark):
    """VERDICT r11 #5 (de-tiled sf1 corpus): replicas of the SAME doc
    must not be near-duplicates (char-5-gram Jaccard well under the
    ~0.5 LSH threshold), while two docs that were near-duplicates of
    each other WITHIN a replica must stay near-duplicates after
    salting (the salt depends on (rep, position, word), not doc_id)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

    base = ("industrial submersible pump with stainless steel housing "
            "and a five year warranty suitable for borewell and "
            "agricultural irrigation duty cycles in every season")
    near = base.replace("every season", "harsh summers")

    def salt_expr():
        return F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda w, i: F.when(
                    (i % 2 == 1) & (F.length(w) > 0),
                    F.lower(F.substring(F.hex(
                        F.xxhash64(F.col("__rep"), i, w)
                    ), 1, 8)),
                ).otherwise(w),
            ),
            " ",
        )

    df = spark.createDataFrame(
        [(1, base, 0), (2, base, 1), (3, base, 2),
         (4, near, 1), (5, near, 2)],
        ["doc_id", "text", "__rep"],
    ).withColumn(
        "text",
        F.when(F.col("__rep") > 0, salt_expr()).otherwise(F.col("text")),
    )

    from b2b_data_pipeline_indiamart_spark.operators.dedup import (
        char_shingles, normalize_doc,
    )

    normed = df.select(
        "doc_id", normalize_doc(F.col("text")).alias("__n")
    )
    sh = {
        r["doc_id"]: set(r["s"])
        for r in normed.select(
            "doc_id", char_shingles(F.col("__n")).alias("s")
        ).collect()
    }

    def jac(a, b):
        return len(sh[a] & sh[b]) / len(sh[a] | sh[b])

    # cross-replica copies of the same doc: far below the LSH S-curve
    assert jac(1, 2) < 0.3
    assert jac(1, 3) < 0.3
    assert jac(2, 3) < 0.3
    # within-replica near-dups: still near-dups after salting, and the
    # similarity matches the unsalted pair's to within a few points
    assert jac(2, 4) > 0.55
    assert jac(3, 5) > 0.55


def test_cdc_chunking_is_shift_robust_where_spans_are_not(spark):
    """The property that justifies docs_cdc_dedup next to
    docs_span_dedup: prepending ONE word to a shared document leaves
    most CDC chunk identities intact (boundaries are local-content
    functions), while fixed-stride spans all shift and stop
    colliding."""
    from b2b_data_pipeline_indiamart_spark.operators import dedup

    base = ("industrial submersible pump with stainless steel housing "
            "and five year warranty for borewell and agricultural "
            "irrigation duty across long seasons of continuous use "
            "with bronze impeller and thermal overload protection")
    shifted = "refurbished " + base  # one-word head insertion
    docs = spark.createDataFrame(
        [(1, base), (2, shifted)], ["doc_id", "text"]
    )

    cdc = {
        r["doc_id"]: r
        for r in dedup.cdc_chunk_report(docs).collect()
    }
    # the two docs share most chunks: everything after the first
    # boundary downstream of the insertion has identical content and
    # identical (content-derived) boundaries
    assert cdc[1]["n_shared_chunks"] >= cdc[1]["n_chunks"] - 2
    assert cdc[1]["shared_rate"] > 0.5

    spans = {
        r["doc_id"]: r
        for r in dedup.span_dup_report(docs, span=3).collect()
    }
    # fixed-stride spans: the head insertion shifts every window by
    # one token, so (with 3-token windows over distinct words) the
    # docs share almost nothing
    assert spans[1]["n_shared_spans"] <= 1
    # and CDC strictly beats spans on this pair
    assert cdc[1]["n_shared_chunks"] > spans[1]["n_shared_spans"]

    # determinism across partitionings (collect_list is order-pinned
    # via array_sort): 1-partition equals default
    one = {
        r["doc_id"]: (r["n_chunks"], r["n_shared_chunks"])
        for r in dedup.cdc_chunk_report(docs.repartition(1)).collect()
    }
    assert one == {
        k: (v["n_chunks"], v["n_shared_chunks"]) for k, v in cdc.items()
    }
