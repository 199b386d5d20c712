"""Unit tests for the round-6 operators: unigram LM scoring, mixture
sampling, per-group reservoir, duplication report, product
quantization, count-min sketch, EWMA, session stats, cube. Value-level
oracle parity is covered by test_oracle_parity.py; these pin operator
semantics on hand-built frames where the expected answer is obvious."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from b2b_data_pipeline_indiamart_spark.operators import (
    dedup,
    sampling,
    similarity,
    sketches,
    temporal,
    textstats,
)
from b2b_data_pipeline_indiamart_spark.plans import QUERIES


# ---------------------------------------------------------------- unigram LM


def test_unigram_logprob_hand_computed(spark):
    docs = spark.createDataFrame([(1, "a a b"), (2, "b")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in textstats.unigram_logprob(docs).collect()}
    # corpus counts: a=2, b=2, total=4 -> p = 0.5 for both tokens
    assert rows[1]["n_tokens"] == 3
    assert rows[2]["n_tokens"] == 1
    expected = round(math.log(0.5), 4)
    assert rows[1]["avg_logprob"] == expected
    assert rows[2]["avg_logprob"] == expected


def test_unigram_logprob_rare_tokens_score_lower(spark):
    docs = spark.createDataFrame(
        [(1, "common common common common"), (2, "rare")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r["avg_logprob"] for r in textstats.unigram_logprob(docs).collect()}
    assert rows[2] < rows[1]


def test_unigram_logprob_skips_contentless_docs(spark):
    docs = spark.createDataFrame([(1, "x y"), (2, "  "), (3, None)], ["doc_id", "text"])
    ids = {r["doc_id"] for r in textstats.unigram_logprob(docs).collect()}
    assert ids == {1}


# ------------------------------------------------------------ mixture sample


def test_mixture_sample_tempering_upsamples_small_sources(spark):
    rows = [("big", i) for i in range(400)] + [("small", 1000 + i) for i in range(25)]
    df = spark.createDataFrame(rows, ["source", "doc_id"])
    out = {
        r["stratum"]: r
        for r in sampling.mixture_sample_summary(
            df, "source", "doc_id", alpha=0.5, target_frac=0.3
        ).collect()
    }
    # alpha < 1 gives the small source a HIGHER per-doc keep rate
    assert out["small"]["rate"] > out["big"]["rate"]
    assert abs(out["small"]["mix_weight"] + out["big"]["mix_weight"] - 1.0) < 0.01
    for r in out.values():
        assert 0 <= r["n_kept"] <= r["n_docs"]


def test_mixture_sample_rate_clamps_to_keep_all(spark):
    # tiny source + aggressive target -> rate hits the 1.0 clamp
    rows = [("big", i) for i in range(500)] + [("tiny", 9000), ("tiny", 9001)]
    df = spark.createDataFrame(rows, ["source", "doc_id"])
    out = {
        r["stratum"]: r
        for r in sampling.mixture_sample_summary(
            df, "source", "doc_id", alpha=0.3, target_frac=0.5
        ).collect()
    }
    assert out["tiny"]["rate"] == 1.0
    assert out["tiny"]["n_kept"] == out["tiny"]["n_docs"]


def test_mixture_sample_deterministic(spark, sf_small):
    a = QUERIES["docs_mixture_sample"](spark, sf_small).collect()
    b = QUERIES["docs_mixture_sample"](spark, sf_small).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ---------------------------------------------------------- per-group sample


def test_sample_per_group_shape_and_determinism(spark):
    rows = [("g1", i) for i in range(50)] + [("g2", 100 + i) for i in range(3)]
    df = spark.createDataFrame(rows, ["grp", "id"])
    out = sampling.sample_per_group(df, "grp", "id", k=5).collect()
    by_grp: dict = {}
    for r in out:
        by_grp.setdefault(r["grp"], []).append(r)
    assert len(by_grp["g1"]) == 5
    assert len(by_grp["g2"]) == 3  # group smaller than k keeps all
    assert sorted(r["sample_rank"] for r in by_grp["g1"]) == [1, 2, 3, 4, 5]
    # repartition-invariant membership
    again = sampling.sample_per_group(df.repartition(7), "grp", "id", k=5).collect()
    assert sorted((r["grp"], r["id"]) for r in out) == sorted(
        (r["grp"], r["id"]) for r in again
    )


# -------------------------------------------------------- duplication report


def test_exact_dup_by_source_counts_copies(spark):
    docs = spark.createDataFrame(
        [
            (1, "same  text", "a"),
            (2, "same text", "a"),  # whitespace-normalized duplicate of 1
            (3, "unique", "a"),
            (4, "other", "b"),
        ],
        ["doc_id", "text", "source"],
    )
    out = {r["source"]: r for r in dedup.exact_dup_by_source(docs).collect()}
    assert out["a"]["n_docs"] == 3
    assert out["a"]["n_dup_docs"] == 1  # doc 2 (keeper is min id 1)
    assert out["a"]["n_dup_groups"] == 1
    assert out["a"]["dup_rate"] == round(1 / 3, 4)
    assert out["b"]["n_dup_docs"] == 0


def test_exact_dup_by_source_null_sentinel_group(spark):
    docs = spark.createDataFrame(
        [(1, None, "a"), (2, "  ", "a"), (3, "real", "a")], ["doc_id", "text", "source"]
    )
    [r] = dedup.exact_dup_by_source(docs).collect()
    # both contentless docs share the __null__ group -> one is a dup copy
    assert r["n_dup_docs"] == 1 and r["n_dup_groups"] == 1


# ------------------------------------------------------ product quantization


def test_pq_encode_code_range_and_map_only(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark import catalog

    emb = catalog.load(spark, sf_small, "embeddings")
    books = similarity.pq_codebooks(emb, dim=64, m=8, k=16)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
    enc = similarity.pq_encode(emb, books)
    rows = enc.collect()
    assert all(len(r["codes"]) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r["codes"])
    # encode is map-only: no exchange in the plan
    plan = enc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_ivf_assign_cell_range_and_map_only(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark import catalog

    emb = catalog.load(spark, sf_small, "embeddings")
    cents = similarity.kmeans_centroids(emb, dim=64, n_cells=8)
    out = similarity.ivf_assign(emb, cents, n_probe=2)
    rows = out.collect()
    assert len(rows) == 2 * emb.count()
    assert all(0 <= r["cell"] < 8 and len(r["v"]) == 64 for r in rows)
    # each vector's two probes are distinct cells
    cells = {}
    for r in rows:
        cells.setdefault(r["id"], set()).add(r["cell"])
    assert all(len(c) == 2 for c in cells.values())
    # assignment is map-only: no exchange in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pq_codebooks_deterministic(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark import catalog

    emb = catalog.load(spark, sf_small, "embeddings")
    b1 = similarity.pq_codebooks(emb, dim=64, m=8, k=16)
    b2 = similarity.pq_codebooks(emb, dim=64, m=8, k=16)
    assert b1 == b2


def test_ann_pq_recall_and_determinism(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark import catalog

    emb = catalog.load(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    pq = similarity.ann_topk_pq(emb, q, k=10)
    got = pq.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, pq.collect()))
    exact = similarity.brute_force_topk(emb, q, k=10)
    a = {(r["query_id"], r["neighbor_id"]) for r in got}
    b = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    # synthetic near-random embeddings are the PQ worst case; recall
    # must still beat chance (10/1000 = 0.01) by a wide margin
    assert len(a & b) / len(b) >= 0.25
    # every query returns a full top-10 with ranks 1..10
    per_q: dict = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(r["rnk"])
    assert all(sorted(v) == list(range(1, 11)) for v in per_q.values())


# ----------------------------------------------------------- count-min sketch


def test_cms_overestimates_within_bound(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark import catalog

    events = catalog.load(spark, sf_small, "events")
    n_total = events.count()
    width = 1024
    out = sketches.cms_estimate_heavy_hitters(events, "user_id", width=width).collect()
    # top-N capped by the data's distinct-user cardinality, computed
    # from the data (not hardcoded to today's synthetic table)
    n_users = events.select("user_id").distinct().count()
    assert len(out) == min(20, n_users) and len(out) > 0
    for r in out:
        assert r["cms_n"] >= r["exact_n"]  # CMS never undercounts
        assert r["overestimate"] <= math.e * n_total / width + 1


def test_cms_cells_bounded_and_deterministic(spark):
    rows = [(i % 7,) for i in range(1000)]
    df = spark.createDataFrame(rows, ["k"])
    cells = sketches.cms_cells(df, "k", depth=4, width=32)
    got = cells.collect()
    assert len(got) <= 4 * 32
    assert sum(r["cnt"] for r in got) == 4 * 1000  # every event in every row
    assert sorted(map(tuple, got)) == sorted(map(tuple, cells.collect()))


# ------------------------------------------------------------------ temporal


def test_ewma_hand_computed(spark):
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:05:00", "click", 1.0),
            (2, "2024-01-01 00:45:00", "click", 1.0),
            (3, "2024-01-01 01:10:00", "click", 1.0),
            (4, "2024-01-05 12:00:00", "click", 1.0),  # far beyond the 24h span
        ],
        ["event_id", "ts", "event_type", "value"],
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["hour_start"]: r for r in temporal.ewma_hourly(events).collect()}
    # hour 00: 2 events, no history -> ewma = 2
    assert out["2024-01-01 00:00:00"]["ewma"] == 2.0
    # hour 01: (1 + 2*0.8) / (1 + 0.8)
    assert out["2024-01-01 01:00:00"]["ewma"] == round((1 + 2 * 0.8) / 1.8, 4)
    # isolated hour far past the window -> just its own count
    assert out["2024-01-05 12:00:00"]["ewma"] == 1.0


def test_session_stats_hand_computed(spark):
    events = spark.createDataFrame(
        [
            (1, 10, "2024-01-01 00:00:00", 2.0),
            (2, 10, "2024-01-01 00:10:00", 4.0),  # same session (10 min gap)
            (3, 10, "2024-01-01 02:00:00", 8.0),  # new session
            (4, 20, "2024-01-01 05:00:00", 1.0),
        ],
        ["event_id", "user_id", "ts", "value"],
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["n_events"]: r for r in temporal.session_stats(events).collect()}
    assert out[2]["n_sessions"] == 1 and out[2]["avg_session_min"] == 10.0
    assert out[1]["n_sessions"] == 2 and out[1]["avg_session_min"] == 0.0
    assert out[1]["avg_value"] == round((8.0 + 1.0) / 2, 4)


# ---------------------------------------------------------------- cube sanity


def test_orders_cube_lattice_consistency(spark, sf_small):
    rows = QUERIES["orders_cube"](spark, sf_small).collect()
    grand = [r for r in rows if r["g_status"] == 1 and r["g_priority"] == 1]
    assert len(grand) == 1
    data_rows = [r for r in rows if r["g_status"] == 0 and r["g_priority"] == 0]
    assert sum(r["n_orders"] for r in data_rows) == grand[0]["n_orders"]
    status_marg = [r for r in rows if r["g_status"] == 0 and r["g_priority"] == 1]
    assert sum(r["n_orders"] for r in status_marg) == grand[0]["n_orders"]


def test_dow_heatmap_iso_monday_is_one(spark):
    events = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "x", 1.0)],  # 2024-01-01 is a Monday
        ["event_id", "ts", "event_type", "value"],
    ).withColumn("ts", F.to_timestamp("ts"))
    out = events.groupBy(
        (F.weekday("ts") + F.lit(1)).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour_of_day"),
    ).count().collect()
    assert out[0]["dow"] == 1 and out[0]["hour_of_day"] == 10


# ------------------------------------------------------------- batch 3 keys


def test_user_type_overlap_hand_computed(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark.plans import QUERIES as Q

    # hand-check on a temp view shape via the operator's own logic:
    # users {1: a,b}, {2: a} -> pair (a,b): both=1, |a|=2, |b|=1, J=0.5
    events = spark.createDataFrame(
        [(1, 1, "a", 0.0), (2, 1, "b", 0.0), (3, 2, "a", 0.0), (4, 1, "a", 0.0)],
        ["event_id", "user_id", "event_type", "value"],
    )
    from pyspark.sql import functions as FF

    tu = events.select(FF.col("event_type").alias("t"), FF.col("user_id").alias("u")).distinct()
    per_user = tu.groupBy("u").agg(FF.sort_array(FF.collect_set("t")).alias("ts"))
    pairs = per_user.select(
        FF.explode(
            FF.expr(
                "flatten(transform(ts, (x, i) -> transform(slice(ts, i + 2, size(ts)),"
                " y -> named_struct('t1', x, 't2', y))))"
            )
        ).alias("p")
    )
    got = pairs.collect()
    assert len(got) == 1 and got[0]["p"]["t1"] == "a" and got[0]["p"]["t2"] == "b"


def test_zipf_slope_is_negative_and_single_row(spark, sf_small):
    [r] = QUERIES["docs_zipf_slope"](spark, sf_small).collect()
    # the synthetic corpus draws from a ~31-word vocabulary; the whole
    # head fits under the top-1000 cut
    assert 10 < r["n_terms"] <= 1000
    assert r["zipf_slope"] < -0.1  # frequency decreasing in rank


def test_segment_value_counts_inactive_customers(spark, sf_small):
    rows = QUERIES["customer_segment_value"](spark, sf_small).collect()
    from b2b_data_pipeline_indiamart_spark import catalog

    n_cust = catalog.load(spark, sf_small, "customer").count()
    assert sum(r["n_customers"] for r in rows) == n_cust  # nobody dropped


def test_norm_outliers_flags_obvious_outlier(spark):
    from b2b_data_pipeline_indiamart_spark.operators import similarity as SS

    rows = [(i, [1.0] * 4, 0) for i in range(20)] + [(99, [50.0] * 4, 0)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    n = emb.select(
        "vec_id",
        "label",
        SS.norm(SS.as_double_array(F.col("embedding"))).alias("nrm"),
    )
    s = n.groupBy("label").agg(F.avg("nrm").alias("mu"), F.stddev_pop("nrm").alias("sd"))
    out = (
        n.join(F.broadcast(s), "label")
        .withColumn("z", (F.col("nrm") - F.col("mu")) / F.col("sd"))
        .filter(F.abs(F.col("z")) > 2.0)
        .collect()
    )
    assert [r["vec_id"] for r in out] == [99]


def test_length_histogram_bins_are_exact_at_powers_of_two(spark):
    docs = spark.createDataFrame(
        [(1, 1023, "s"), (2, 1024, "s"), (3, 1, "s"), (4, 0, "s")],
        ["doc_id", "n_chars", "source"],
    )
    log2_bin = (
        F.when(F.col("n_chars") >= 1, F.length(F.bin(F.col("n_chars"))) - 1)
        .otherwise(F.lit(-1))
        .cast("int")
    )
    got = {r["doc_id"]: r["b"] for r in docs.select("doc_id", log2_bin.alias("b")).collect()}
    assert got == {1: 9, 2: 10, 3: 0, 4: -1}


# ----------------------------------------------------------------- IVF-PQ


def test_ann_ivfpq_recall_and_determinism(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark import catalog

    emb = catalog.load(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    r = similarity.ann_topk_ivfpq(emb, q, dim=64, k=10, n_probe=4)
    got = r.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, r.collect()))
    exact = {
        (x["query_id"], x["neighbor_id"])
        for x in similarity.brute_force_topk(emb, q, k=10).collect()
    }
    a = {(x["query_id"], x["neighbor_id"]) for x in got}
    # probing 4/16 cells scans ~25% of the corpus; residual PQ costs
    # some recall on top of plain IVF — must still beat chance by 20×
    assert len(a & exact) / len(exact) >= 0.2
    per_q: dict = {}
    for x in got:
        per_q.setdefault(x["query_id"], []).append(x["rnk"])
    assert all(sorted(v) == list(range(1, 11)) for v in per_q.values())


def test_ivfpq_residual_books_shape(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark import catalog

    emb = catalog.load(spark, sf_small, "embeddings")
    cents = similarity.kmeans_centroids(emb, dim=64, n_cells=16)
    books = similarity.ivfpq_residual_codebooks(emb, cents, m=16, k=16)
    assert len(books) == 16 and len(books[0]) == 16 and len(books[0][0]) == 4
    # residual codebooks concentrate near the origin (coarse quantizer
    # soaked up the structure): mean centroid norm well under 1
    import math as _m

    norms = [
        _m.sqrt(sum(x * x for x in c)) for book in books for c in book
    ]
    assert sum(norms) / len(norms) < 0.5


# ------------------------------------------------------------- span dedup


def test_span_dup_report_hand_computed(spark):
    # doc 1 and doc 2 share the span "a b c"; doc 3 shares nothing.
    docs = spark.createDataFrame(
        [
            (1, "a b c x y z"),          # spans: "a b c", "x y z"
            (2, "a b c q r s"),          # spans: "a b c", "q r s"
            (3, "m n o p"),              # spans: "m n o" (tail "p" dropped)
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup.span_dup_report(docs, span=3).collect()}
    assert out[1]["n_spans"] == 2 and out[1]["n_shared_spans"] == 1
    assert out[1]["shared_rate"] == 0.5
    assert out[2]["n_spans"] == 2 and out[2]["n_shared_spans"] == 1
    assert out[3]["n_spans"] == 1 and out[3]["n_shared_spans"] == 0


def test_span_dup_report_within_doc_repeat_is_not_shared(spark):
    # the same span twice in ONE doc is repetition, not cross-doc sharing
    docs = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "u v w x y z")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in dedup.span_dup_report(docs, span=3).collect()}
    assert out[1]["n_spans"] == 2 and out[1]["n_shared_spans"] == 0


def test_span_dup_report_short_docs_drop_out(spark):
    docs = spark.createDataFrame([(1, "a b"), (2, None)], ["doc_id", "text"])
    assert dedup.span_dup_report(docs, span=3).count() == 0


# ---------------------------------------------------------- token entropy


def test_token_entropy_uniform_vs_degenerate(spark):
    # uniform over 4 distinct tokens -> H = 2 bits; single token -> 0
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a a a a")], ["doc_id", "text"]
    )
    from b2b_data_pipeline_indiamart_spark.operators.dedup import word_tokens

    tf = (
        docs.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("t"))
        .groupBy("doc_id", "t")
        .count()
    )
    n = F.sum("count")
    ent = tf.groupBy("doc_id").agg(
        F.round(
            F.log2(n.cast("double"))
            - F.sum(F.col("count") * F.log2(F.col("count").cast("double"))) / n,
            4,
        ).alias("h")
    )
    got = {r["doc_id"]: r["h"] for r in ent.collect()}
    assert got[1] == 2.0 and got[2] == 0.0


# ------------------------------------------------------------ PCA variance


def test_pca_variance_matches_numpy(spark, sf_small):
    import numpy as np

    out = QUERIES["embedding_pca_variance"](spark, sf_small).collect()
    vecs = [
        np.asarray(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{sf_small}/embeddings.parquet").collect()
    ]
    x = np.array(vecs)
    cov = np.cov(x, rowvar=False, bias=True)
    ref = np.linalg.eigvalsh(cov)[::-1]
    for row in out:
        assert abs(row["eigenvalue"] - round(float(ref[row["component"] - 1]), 6)) < 2e-6
    # ratios are monotone and bounded
    assert out[0]["explained_ratio"] >= out[-1]["explained_ratio"]
    assert 0.0 < out[-1]["cum_ratio"] <= 1.0


def test_pca_variance_deterministic(spark, sf_small):
    a = [tuple(r) for r in QUERIES["embedding_pca_variance"](spark, sf_small).collect()]
    b = [tuple(r) for r in QUERIES["embedding_pca_variance"](spark, sf_small).collect()]
    assert a == b


def test_pca_variance_detects_collapsed_dimension(spark):
    # vectors confined to one axis -> first component explains ~all
    rows = [(i, [float(i), 0.0, 0.0, 0.0]) for i in range(1, 33)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.pca_variance(emb, dim=4, top_k=4).collect()
    assert out[0]["explained_ratio"] > 0.999
    assert abs(out[-1]["eigenvalue"]) < 1e-9


# ------------------------------------------------------- perplexity buckets


def test_perplexity_buckets_are_balanced_terciles(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark.operators import caching

    out = QUERIES["docs_perplexity_buckets"](spark, sf_small).collect()
    caching.release_cached()
    from collections import Counter

    sizes = Counter(r["bucket"] for r in out)
    assert set(sizes) == {"head", "middle", "tail"}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # head has the highest scores: min(head) >= max(tail)
    head_min = min(r["avg_logprob"] for r in out if r["bucket"] == "head")
    tail_max = max(r["avg_logprob"] for r in out if r["bucket"] == "tail")
    assert head_min >= tail_max


# ------------------------------------------------------------- basket lift


def test_basket_lift_hand_computed(spark):
    from b2b_data_pipeline_indiamart_spark.operators import caching
    from b2b_data_pipeline_indiamart_spark.plans.queries import part_basket_lift  # noqa: F401

    # 4 baskets: {1,2} x3 and {1,3} x1 -> pair (1,2): n=3,
    # support=3/4, conf(1->2)=3/4, lift = (3*4)/(4*3) = 1.0
    rows = [
        (10, 1), (10, 2),
        (11, 1), (11, 2),
        (12, 1), (12, 2),
        (13, 1), (13, 3),
    ]
    li = spark.createDataFrame(rows, ["ok", "pk"])
    baskets = li.groupBy("ok").agg(F.sort_array(F.collect_set("pk")).alias("pks"))
    baskets = baskets.filter((F.size("pks") >= 2) & (F.size("pks") <= 32))
    # mirror the registry plan's metric arithmetic on the toy frame
    n_b = baskets.count()
    item = dict(
        baskets.select(F.explode("pks").alias("pk")).groupBy("pk").count().collect()
    )
    assert n_b == 4 and item[1] == 4 and item[2] == 3
    caching.release_cached()


# ------------------------------------------------------------ bigram LM


def test_bigram_logprob_hand_computed(spark):
    # corpus transitions: "a b" x2, "b a" x1  (docs: "a b a b", "b? no")
    docs = spark.createDataFrame([(1, "a b a b"), (2, "a b")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in textstats.bigram_logprob(docs).collect()}
    # prefix counts: a->? occurs 3x ("a b" x3), b->? occurs 2x ("b a" x2... )
    # transitions: doc1: (a,b),(b,a),(a,b); doc2: (a,b)
    # c(a,b)=3, c(b,a)=1; ctx a=3, ctx b=1
    # doc1 avg = (ln(3/3) + ln(1/1) + ln(3/3)) / 3 = 0
    # doc2 avg = ln(3/3) = 0
    assert rows[1]["n_bigrams"] == 3 and rows[1]["avg_logprob"] == 0.0
    assert rows[2]["n_bigrams"] == 1 and rows[2]["avg_logprob"] == 0.0


def test_bigram_logprob_rare_transition_scores_lower(spark):
    docs = spark.createDataFrame(
        [(1, "x y a x y a x y"), (2, "y x")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r["avg_logprob"] for r in textstats.bigram_logprob(docs).collect()}
    # doc2's only transition (y,x) occurs once against 3 y-contexts:
    # ln(1/3); doc1 mixes ln(1) and ln(2/3) terms and stays higher
    assert rows[2] < rows[1]


def test_bigram_logprob_single_token_docs_drop_out(spark):
    docs = spark.createDataFrame([(1, "only"), (2, "a b")], ["doc_id", "text"])
    ids = {r["doc_id"] for r in textstats.bigram_logprob(docs).collect()}
    assert ids == {2}


# -------------------------------------------------------- global cumsum


def test_global_cumsum_matches_window_form(spark):
    from b2b_data_pipeline_indiamart_spark.operators import caching, ranking
    from pyspark.sql import Window

    rows = [(i, float((i * 7) % 11) - 5.0) for i in range(1, 201)]
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(7)
    got = {
        r["k"]: r["c"]
        for r in ranking.global_cumsum(df, [F.col("k").asc()], "v", "c").collect()
    }
    caching.release_cached()
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref = {r["k"]: r["c"] for r in df.withColumn("c", F.sum("v").over(w)).collect()}
    assert got == ref


# ----------------------------------------------------- max concurrency


def test_max_concurrency_hand_computed(spark):
    from datetime import datetime

    from b2b_data_pipeline_indiamart_spark.operators import caching

    mk = lambda m: datetime(2026, 1, 1, 10, m)  # noqa: E731
    # three users, sessions: u1 [10:00,10:10], u2 [10:05,10:05],
    # u3 [10:20,10:20] -> peak 2 at 10:05 (u1 still open, u2 starts)
    rows = [
        (1, mk(0), 1, "view", 1.0),
        (2, mk(10), 1, "view", 1.0),
        (3, mk(5), 2, "view", 1.0),
        (4, mk(20), 3, "view", 1.0),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    [r] = temporal.max_concurrency(events, gap_minutes=30).collect()
    caching.release_cached()
    assert r["max_concurrent"] == 2
    assert r["at_time"] == "2026-01-01 10:05:00.000"


def test_max_concurrency_touching_sessions_overlap(spark):
    from datetime import datetime

    from b2b_data_pipeline_indiamart_spark.operators import caching

    # u1's session ends at the exact ms u2's starts: inclusive
    # intervals -> they count as concurrent
    rows = [
        (1, datetime(2026, 1, 1, 10, 0), 1, "view", 1.0),
        (2, datetime(2026, 1, 1, 10, 5), 1, "view", 1.0),
        (3, datetime(2026, 1, 1, 10, 5), 2, "view", 1.0),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    [r] = temporal.max_concurrency(events, gap_minutes=30).collect()
    caching.release_cached()
    assert r["max_concurrent"] == 2


# ------------------------------------------------------------ bloom pruning


def test_bloom_no_false_negatives_and_prunes(spark):
    from b2b_data_pipeline_indiamart_spark.operators import bloom

    keys = spark.createDataFrame([(i,) for i in range(100)], ["k"])
    fact = spark.createDataFrame([(i,) for i in range(10_000)], ["f"])
    bits = bloom.bloom_build(keys, "k", m_bits=1 << 12, k=4)
    pruned = fact.crossJoin(F.broadcast(bits)).filter(
        bloom.bloom_might_contain("__bloom", "f", m_bits=1 << 12, k=4)
    )
    kept = {r["f"] for r in pruned.collect()}
    assert set(range(100)) <= kept  # a bloom filter NEVER drops a member
    # and it actually prunes: false-positive rate well under 50%
    assert len(kept) < 100 + 0.5 * 9_900


def test_bloom_semi_join_equals_plain_semi_join(spark):
    from b2b_data_pipeline_indiamart_spark.operators import bloom

    keys = spark.createDataFrame([(3,), (7,), (7,), (11,)], ["k"])
    fact = spark.createDataFrame([(i, i * 10.0) for i in range(20)], ["f", "v"])
    got = sorted(
        map(tuple, bloom.bloom_semi_join(fact, keys, "f", "k").collect())
    )
    ref = sorted(
        map(
            tuple,
            fact.join(
                keys.select("k"), F.col("f") == F.col("k"), "left_semi"
            ).collect(),
        )
    )
    assert got == ref == [(3, 30.0), (7, 70.0), (11, 110.0)]


# ----------------------------------------------- concurrent multi-ntile


def test_global_ntile_many_equals_chained(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark import catalog
    from b2b_data_pipeline_indiamart_spark.operators import caching
    from b2b_data_pipeline_indiamart_spark.operators.ranking import (
        global_ntile,
        global_ntile_many,
    )
    from b2b_data_pipeline_indiamart_spark.functions.rounding import round_half_up

    orders = catalog.load(spark, sf_small, "orders")
    m = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        round_half_up(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    specs = {
        "r_score": [F.col("last_order").asc(), F.col("custkey").asc()],
        "f_score": [F.col("frequency").asc(), F.col("custkey").asc()],
        "m_score": [F.col("monetary").asc(), F.col("custkey").asc()],
    }
    many = global_ntile_many(
        m, 4, "custkey", specs,
        narrow={"r_score": ["last_order"], "f_score": ["frequency"],
                "m_score": ["monetary"]},
    )
    got = sorted(
        map(tuple, many.select("custkey", "r_score", "f_score", "m_score").collect())
    )
    caching.release_cached()
    chained = m
    for out_col, order_cols in specs.items():
        chained = global_ntile(chained, 4, order_cols, out_col)
    ref = sorted(
        map(
            tuple,
            chained.select("custkey", "r_score", "f_score", "m_score").collect(),
        )
    )
    caching.release_cached()
    assert got == ref


def test_bloom_semi_join_mixed_key_types(spark):
    # xxhash64 is type-sensitive; the build/probe long casts must keep
    # an int fact against a long key set correct (review finding)
    from b2b_data_pipeline_indiamart_spark.operators import bloom

    fact = spark.createDataFrame([(i,) for i in range(20)], "f int")
    keys = spark.createDataFrame([(3,), (7,), (11,)], "k long")
    got = sorted(r["f"] for r in bloom.bloom_semi_join(fact, keys, "f", "k").collect())
    assert got == [3, 7, 11]


def test_share_top_n_null_group_keeps_its_rank(spark):
    # a NULL group ranking in the top N must keep its (NULL) label,
    # matching the SQL oracle's rn<=n CASE (review finding: the
    # broadcast membership join must be null-safe)
    from b2b_data_pipeline_indiamart_spark.operators import analytics

    rows = [(None,)] * 10 + [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "g string")
    out = {r["label"]: r["cnt"] for r in analytics.share_top_n_others(df, "g", n=2).collect()}
    assert out[None] == 10  # NULL ranked #1 and kept its label
    assert out["a"] == 5 and out["Others"] == 4


def test_pq_short_codebook_stride(spark):
    # a corpus smaller than n_centroids trains shorter codebooks; the
    # ADC lookup must stride by the TRAINED length, not the requested
    # k (review finding: wrong-segment reads for every subspace s>=1)
    rows = [(i, [float((i * 7 + j) % 5) for j in range(16)]) for i in range(8)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 2)
    out = similarity.ann_topk_pq(emb, q, k=3, m=4, n_centroids=16).collect()
    assert out  # produces ranked neighbors
    assert all(r["pq_score"] is not None for r in out)  # no NULL scores
    per_q: dict = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rnk"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
