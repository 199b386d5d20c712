"""Round-14 operator tests: the seeded SemDeDup composition twin and
the unrolled-SQL BPE trainer oracle."""

from __future__ import annotations

import duckdb

from b2b_data_pipeline_indiamart_spark.operators import caching, similarity


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_semdedup_seeded_lowest_id_survives(spark, sf_small):
    """The exists-based keep rule guarantees the lowest-id member of
    every cluster's near-dup set survives — in particular the lowest
    id in each cluster can never be dropped."""
    out = similarity.semdedup_seeded(_emb(spark, sf_small)).collect()
    lowest = {}
    for r in out:
        if r["cluster"] not in lowest or r["vec_id"] < lowest[r["cluster"]]:
            lowest[r["cluster"]] = r["vec_id"]
    by_id = {r["vec_id"]: r for r in out}
    for cid, vid in lowest.items():
        assert by_id[vid]["kept"] is True, (cid, vid)
    caching.release_cached()


def test_semdedup_seeded_total_and_partition_invariant(spark, sf_small):
    """One row per input vector, clusters are seed vec_ids, and the
    result is invariant to input partitioning (block assignment picks
    WHERE a pair is scored, never which pairs exist)."""
    emb = _emb(spark, sf_small)
    base = sorted(
        (r["vec_id"], r["cluster"], r["kept"])
        for r in similarity.semdedup_seeded(emb).collect()
    )
    seed_ids = {
        r["vec_id"]
        for r in emb.select("vec_id").orderBy("vec_id").limit(8).collect()
    }
    assert len(base) == emb.count()
    assert {c for (_, c, _) in base} <= seed_ids
    rep = sorted(
        (r["vec_id"], r["cluster"], r["kept"])
        for r in similarity.semdedup_seeded(emb.repartition(13)).collect()
    )
    assert base == rep
    caching.release_cached()


def test_bpe_sql_trainer_matches_python_on_hand_corpus(tmp_path):
    """The unrolled-CTE SQL trainer (queries._bpe_tokenize_sql) must
    reproduce textstats.bpe_train_merges + bpe_segment exactly on a
    hand corpus with known tie-breaks and cascading merges."""
    import pandas as pd

    from b2b_data_pipeline_indiamart_spark.operators.textstats import (
        bpe_segment,
    )
    from b2b_data_pipeline_indiamart_spark.plans.queries import (
        _bpe_tokenize_sql,
    )

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "aaaa aaaa abab",  # runs exercise left-to-right greed
                "banana bandana banana",
                "steel STEEL steel price",  # case folding
                "x aaaa",  # length-1 word excluded from training
            ],
        }
    )
    pq = str(tmp_path / "documents.parquet")
    docs.to_parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')"
    )
    oracle = (
        con.execute(_bpe_tokenize_sql(n_merges=10))
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    # python reference: same training loop as bpe_train_merges
    toks = []
    for t in docs["text"]:
        toks.extend(t.lower().split())
    from collections import Counter

    wf = Counter(t for t in toks if len(t) >= 2)
    vocab = [([*t], w) for t, w in sorted(wf.items(), key=lambda kv: (-kv[1], kv[0]))]
    merges = []
    for _ in range(10):
        counts: dict = {}
        for syms, w in vocab:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + w
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        for syms, _ in vocab:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    syms[i : i + 2] = [a + b]
                else:
                    i += 1
    ranks = {p: i for i, p in enumerate(merges)}
    for _, row in oracle.iterrows():
        did = row["doc_id"]
        words = docs.loc[docs.doc_id == did, "text"].iloc[0].lower().split()
        n_sub = sum(len(bpe_segment(w, ranks)) for w in words)
        assert row["n_words"] == len(words), did
        assert row["n_subwords"] == n_sub, (did, row["n_subwords"], n_sub)


def test_mmr_rerank_diversifies(spark, sf_small):
    """MMR contract: rank 1 equals the plain top-1; every later pick
    is a shortlist member; and the selected set's max pairwise
    similarity is ≤ the plain top-k's (the whole point of the
    redundancy penalty)."""
    import itertools

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    queries = emb.filter("vec_id < 5")
    mmr = similarity.mmr_rerank(emb, queries, k=10, shortlist=30)
    topk = similarity.brute_force_topk(emb, queries, k=10)
    mmr_rows = mmr.collect()
    top_rows = topk.collect()
    top1 = {
        r["query_id"]: r["neighbor_id"] for r in top_rows if r["rnk"] == 1
    }
    by_q: dict = {}
    for r in mmr_rows:
        by_q.setdefault(r["query_id"], []).append(r)
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in emb.select("vec_id", "embedding").collect()
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return num / (na * nb) if na > 0 and nb > 0 else 0.0

    def max_pair_sim(ids):
        return max(
            cos(vecs[a], vecs[b]) for a, b in itertools.combinations(ids, 2)
        )

    topk_ids: dict = {}
    for r in top_rows:
        topk_ids.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["mmr_rank"])
        assert rows[0]["neighbor_id"] == top1[qid]
        assert len(rows) == 10
        picked = [r["neighbor_id"] for r in rows]
        assert max_pair_sim(picked) <= max_pair_sim(topk_ids[qid]) + 1e-9
    caching.release_cached()


def test_kcenter_coreset_greedy_property(spark, sf_small):
    """k-center contract: center 1 is the lowest id; center 2 is the
    brute-force farthest vector from center 1 (4dp cosine distance,
    tie lowest id); every later center's min_dist is non-increasing
    (greedy farthest-point always shrinks coverage radius)."""
    import math

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    out = sorted(
        similarity.kcenter_coreset(emb, k=8).collect(),
        key=lambda r: r["center_rank"],
    )
    assert len(out) == 8
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in emb.select("vec_id", "embedding").collect()
    }
    first = min(vecs)
    assert out[0]["vec_id"] == first and out[0]["min_dist"] is None

    def cosd(a, b):
        num = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(x) ** 2 for x in b))
        if na * nb <= 0:
            return None
        return math.floor((1 - num / (na * nb)) * 10000.0 + 0.5) / 10000.0

    best = max(
        ((vid, cosd(v, vecs[first])) for vid, v in vecs.items()
         if vid != first and cosd(v, vecs[first]) is not None),
        key=lambda t: (t[1], -t[0]),
    )
    assert (out[1]["vec_id"], out[1]["min_dist"]) == best
    dists = [r["min_dist"] for r in out[1:]]
    assert all(a >= b for a, b in zip(dists, dists[1:]))


def test_pandas_compare_path_matches_repr_path(spark, sf_medium):
    """tools/full_parity's big-output Arrow/pandas compare (r14: the
    repr-tuple canon OOM-killed a sf10 shard at 6 M rows) must reach
    the same verdict as the repr path — both on an equal pair and on
    a value-perturbed pair."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools.full_parity import _comparable, _pandas_compare, duck

    from b2b_data_pipeline_indiamart_spark.plans import ORACLE, QUERIES

    con = duck(sf_medium)
    for key in ["dedup_keep_first", "events_props_parse", "doc_quality"]:
        sdf = QUERIES[key](spark, sf_medium)
        rec = _pandas_compare(sdf, con, ORACLE[key])
        # repr path on the same pair
        srows = [tuple(r) for r in sdf.collect()]
        res = con.execute(ORACLE[key])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        repr_match = _comparable(sdf.columns, srows) == _comparable(
            dcols, drows
        )
        assert rec["hash_match"] is True and repr_match is True, (key, rec)
    # perturbed oracle must FAIL the pandas path too
    sdf = QUERIES["doc_quality"](spark, sf_medium)
    bad = (
        "SELECT * REPLACE (n_tokens + 1 AS n_tokens) FROM "
        f"({ORACLE['doc_quality']})"
    )
    rec = _pandas_compare(sdf, con, bad)
    assert rec["hash_match"] is False
    from b2b_data_pipeline_indiamart_spark.operators import caching

    caching.release_cached()


# ------------------------------------------------------------------ round 15


def test_kcenter_empty_corpus_returns_empty_frame(spark):
    """ADVICE r14: an empty corpus must degrade to an empty frame with
    the output schema, not IndexError on the seed collect."""
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = similarity.kcenter_coreset(emb, k=8)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "center_rank", "vec_id", "min_dist",
    ]
