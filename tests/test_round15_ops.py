"""Round 15 operators: the Lloyd-unrolled IVF twin, the eigensolve
invariant gate, and variable-length repeated-substring dedup."""

from __future__ import annotations

import math

from b2b_data_pipeline_indiamart_spark.operators import (
    caching,
    dedup,
    similarity,
)
from b2b_data_pipeline_indiamart_spark.plans import QUERIES


def test_ivf_lloyd_centroids_match_numpy_reference(spark, sf_small):
    """The 2-iteration seeded-Lloyd routing must equal an independent
    numpy replay of the EXACT arithmetic contract: 6dp-cosine argmax
    assignment (cid tie-break), 1e6-quantized unit-coordinate integer
    sums, round6(S_j / sqrt(Σ S_j²)) centroid components."""
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    ids = sorted(r["vec_id"] for r in rows)
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows
    }

    def r(x, dp):
        return math.floor(x * float(10**dp) + 0.5) / float(10**dp)

    def dot(a, b):
        # sequential left fold — the exact order Spark's F.aggregate
        # and DuckDB's list_dot_product sum in (numpy's pairwise
        # summation can differ by an ulp)
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def cos(a, b):
        denom = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
        if denom <= 0:
            return None
        return dot(a, b) / denom

    cents = {vid: vecs[vid] for vid in ids[:16]}
    for _ in range(2):
        # assignment: argmax 6dp cosine, cid tie-break
        assign = {}
        for vid, v in vecs.items():
            best = max(
                sorted(cents),
                key=lambda c: (
                    -1e9 if cos(v, cents[c]) is None else r(cos(v, cents[c]), 6),
                    -c,
                ),
            )
            assign[vid] = best
        # update: exact integer sums of quantized unit coords
        sums: dict = {}
        for vid, v in vecs.items():
            n = math.sqrt(dot(v, v))
            u = [x / n for x in v] if n > 0 else v
            q = [int(math.floor(x * 1.0e6 + 0.5)) for x in u]
            s = sums.setdefault(assign[vid], [0] * len(q))
            for j, x in enumerate(q):
                s[j] += x
        new = {}
        for c, s in sums.items():
            ss = sum(x * x for x in s)
            if ss > 0:
                root = math.sqrt(float(ss))
                new[c] = [r(float(x) / root, 6) for x in s]
            else:
                new[c] = [0.0] * len(s)
        cents = new

    out = similarity.ann_ivf_lloyd_seeded_topk(
        emb, emb.filter("vec_id < 5"), n_seeds=16, n_iters=2
    ).collect()
    # replay the routing tail on the reference centroids
    cells, probes = {}, {}
    for vid, v in vecs.items():
        ranked = sorted(
            sorted(cents),
            key=lambda c: (
                -(r(cos(v, cents[c]), 6) if cos(v, cents[c]) is not None else -1e9),
                c,
            ),
        )
        cells[vid] = ranked[0]
        if vid < 5:
            probes[vid] = set(ranked[:4])
    expect = {}
    for q in probes:
        cand = [
            n for n in vecs if n != q and cells[n] in probes[q]
        ]
        scored = sorted(
            ((r(cos(vecs[q], vecs[n]), 4), n) for n in cand),
            key=lambda t: (-t[0], t[1]),
        )[:10]
        expect[q] = [(n, s) for s, n in scored]
    got: dict = {}
    for row in sorted(out, key=lambda x: (x["query_id"], x["rnk"])):
        got.setdefault(row["query_id"], []).append(
            (row["neighbor_id"], row["cos_sim"])
        )
    assert got == expect
    caching.release_cached()


def test_ivf_lloyd_zero_iterations_is_the_seeded_twin(spark, sf_small):
    """With no Lloyd update the trained twin's centroids are the raw
    seed vectors, so it must return exactly the rows of
    ann_ivf_seeded_topk for the same seeds, probe count and k: both
    route through the one seeded routing tail."""
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    queries = emb.filter("vec_id < 5")
    lloyd = similarity.ann_ivf_lloyd_seeded_topk(
        emb, queries, n_seeds=16, n_iters=0, n_probe=4, k=10
    ).collect()
    seeded = similarity.ann_ivf_seeded_topk(
        emb, queries, n_seeds=16, n_probe=4, k=10
    ).collect()
    caching.release_cached()
    assert len(seeded) == 50
    assert sorted(map(tuple, lloyd)) == sorted(map(tuple, seeded))


def test_pca_invariants_match_covariance(spark, sf_small):
    """Σλ must equal tr(C) and Σλ² must equal ‖C‖²_F of the quantized
    covariance to well within the 6dp grid — the identity the oracle
    checks; here pinned against a direct driver recompute."""
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    out = {
        r["invariant"]: r["value"]
        for r in similarity.pca_eigen_invariants(emb, dim=64).collect()
    }
    cells = similarity.embedding_cov_quantized(emb, dim=64).collect()
    tr = sum(float(r["cov_q"]) for r in cells if r["i"] == r["j"])
    fr = sum(
        float(r["cov_q"]) ** 2 * (1.0 if r["i"] == r["j"] else 2.0)
        for r in cells
    )
    assert abs(out["trace"] - tr) <= 2e-6
    assert abs(out["frobenius_sq"] - fr) <= 2e-6
    assert set(out) == {"trace", "frobenius_sq"}


def test_repeated_substring_runs_planted_fixture(spark):
    """Seed-and-extend contract on a planted corpus: two documents
    share one exact 10-token run (reported once per doc with the
    right offset and length), a third shares nothing long enough, and
    within-single-doc repetition does not flag."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, "x1 y1 " + shared + " z1"),
            (2, shared + " q2 r2 s2"),
            (3, "alpha beta gamma nope " + "solo " * 6 + "alpha beta gamma nope"),
        ],
        "doc_id long, text string",
    )
    out = sorted(
        (
            (r["doc_id"], r["start_pos"], r["run_len"])
            for r in dedup.repeated_substring_runs(
                docs, k=3, min_len=8
            ).collect()
        )
    )
    # doc1: run starts after the 2 prefix tokens; doc2: at 0 — both 10
    # tokens long. doc3's 4-token overlap ("alpha beta gamma nope"
    # repeats only within doc3) is below min_len AND same-doc only.
    assert out == [(1, 2, 10), (2, 0, 10)]
    caching.release_cached()


def test_repeated_substring_registry_key_runs(spark, sf_small):
    df = QUERIES["docs_repeated_substring"](spark, sf_small)
    rows = df.collect()
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "start_pos", "run_len",
    ]
    assert all(r["run_len"] >= 8 for r in rows)
    caching.release_cached()


def test_soak_reference_model_matches_committed_receipt():
    """The 560-epoch drift-soak receipt (SOAK_r15_drift.jsonl) must
    match the pure-python reference model of the sink semantics
    epoch-for-epoch: 559/560 exact, the single +1 (epoch 3) being a
    cell-boundary probe miss — the documented IVF false-negative —
    and state_rows == admitted at EVERY epoch (strict linearity in
    uniques through the planted drift segment at 500-524)."""
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo))
    from tools.soak_model import check

    res = check(str(repo / "SOAK_r15_drift.jsonl"), 100, 500, 25)
    assert res["epochs"] == 560
    assert res["exact_match"] >= res["epochs"] - 1
    assert res["state_equals_admitted_every_epoch"]
    assert res["observed_total"] - res["model_total"] <= 1
