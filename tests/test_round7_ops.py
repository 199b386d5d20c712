"""Round-7 regression tests: the four ADVICE-r6 fixes (auto-narrow
projection in global_ntile_many, Spark-dtype-driven accumulator in
global_cumsum, Hadoop-FS epoch ledger, fully-keyed pca reduce order)
plus pins for the operators added this round."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from b2b_data_pipeline_indiamart_spark.operators import caching, ranking


# ------------------------------------------- ntile_many auto-narrow


def test_global_ntile_many_derives_projection_from_string_order_cols(spark):
    """ADVICE r6: string order-cols need no `narrow` mapping — the
    projection is derived; previously this raised AnalysisException."""
    rows = [(i, float(i % 7), i % 5) for i in range(1, 101)]
    df = spark.createDataFrame(rows, ["k", "a", "b"]).repartition(4)
    got = ranking.global_ntile_many(
        df, 4, "k", {"qa": ["a", "k"], "qb": ["b", "k"]}
    )
    got_rows = sorted(
        map(tuple, got.select("k", "qa", "qb").collect())
    )
    caching.release_cached()
    chained = ranking.global_ntile(df, 4, ["a", "k"], "qa")
    chained = ranking.global_ntile(chained, 4, ["b", "k"], "qb")
    ref = sorted(map(tuple, chained.select("k", "qa", "qb").collect()))
    caching.release_cached()
    assert got_rows == ref


def test_global_ntile_many_expression_spec_falls_back_to_full_df(spark):
    """A Column-expression order spec with no narrow entry must not
    fail at plan time — it falls back to the full frame."""
    rows = [(i, float(i % 7)) for i in range(1, 41)]
    df = spark.createDataFrame(rows, ["k", "a"]).repartition(3)
    got = ranking.global_ntile_many(
        df, 4, "k", {"q": [F.col("a").desc(), F.col("k").asc()]}
    )
    got_rows = sorted(map(tuple, got.select("k", "q").collect()))
    caching.release_cached()
    ref = sorted(
        map(
            tuple,
            ranking.global_ntile(
                df, 4, [F.col("a").desc(), F.col("k").asc()], "q"
            )
            .select("k", "q")
            .collect(),
        )
    )
    caching.release_cached()
    assert got_rows == ref


# --------------------------------------------- cumsum decimal dtype


def test_global_cumsum_decimal_column(spark):
    """ADVICE r6: Decimal value columns accumulate as Decimal and the
    offsets frame carries the decimal type — no BIGINT schema clash."""
    from pyspark.sql import Window

    rows = [(i, Decimal(str(i)) / Decimal("4")) for i in range(1, 51)]
    df = spark.createDataFrame(rows, "k int, v decimal(10,2)").repartition(5)
    got = {
        r["k"]: r["c"]
        for r in ranking.global_cumsum(df, [F.col("k").asc()], "v", "c").collect()
    }
    caching.release_cached()
    w = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref = {r["k"]: r["c"] for r in df.withColumn("c", F.sum("v").over(w)).collect()}
    assert got == ref
    assert all(isinstance(v, Decimal) for v in got.values())


def test_global_cumsum_integer_column_stays_exact(spark):
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 31)], "k int, v long"
    ).repartition(3)
    got = {
        r["k"]: r["c"]
        for r in ranking.global_cumsum(df, [F.col("k").asc()], "v", "c").collect()
    }
    caching.release_cached()
    assert got[30] == sum(i * 10 for i in range(1, 31))
    assert all(isinstance(v, int) for v in got.values())


# ------------------------------------------------ batch A: curation ops


def test_dsir_formula_hand_computed(spark):
    import math

    from b2b_data_pipeline_indiamart_spark.operators import textstats

    # corpus: target doc "a a", non-target doc "a b"
    # counts: a: c=3, ct=2; b: c=1, ct=0; V=2, N=4, Nt=2
    docs = spark.createDataFrame(
        [(1, "a a", "en"), (2, "a b", "de")], ["doc_id", "text", "lang"]
    )
    out = {
        r["doc_id"]: r
        for r in textstats.dsir_logratio(docs, F.col("lang") == "en").collect()
    }
    lr_a = math.log((2 + 1) / (2 + 2)) - math.log((3 + 1) / (4 + 2))
    lr_b = math.log((0 + 1) / (2 + 2)) - math.log((1 + 1) / (4 + 2))
    assert out[1]["is_target"] is True and out[2]["is_target"] is False
    assert out[1]["dsir_score"] == round(lr_a, 4)
    assert out[2]["dsir_score"] == round((lr_a + lr_b) / 2, 4)
    # the target-looking doc scores higher
    assert out[1]["dsir_score"] > out[2]["dsir_score"]


def test_bpe_pair_counts_hand_computed(spark):
    from b2b_data_pipeline_indiamart_spark.operators import textstats

    # "abab" x2 (pairs ab, ba, ab -> ab:2, ba:1 per occurrence),
    # "ab" x1 -> ab:1. weighted: ab = 2*2+1 = 5, ba = 1*2 = 2
    docs = spark.createDataFrame(
        [(1, "abab abab ab")], ["doc_id", "text"]
    )
    got = {r["pair"]: r["pair_count"] for r in
           textstats.bpe_pair_counts(docs, top_n=10).collect()}
    assert got == {"ab": 5, "ba": 2}


def test_readability_hand_computed(spark):
    from b2b_data_pipeline_indiamart_spark.operators import textstats

    # "see spot run. go!" -> words 4, sentences 2 (runs of [.!?]),
    # vowel groups: ee, o, u, o -> 4 syllables
    docs = spark.createDataFrame([(1, "see spot run. go!")], ["doc_id", "text"])
    [r] = textstats.readability(docs).collect()
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (4, 2, 4)
    expected = 206.835 - 1.015 * (4 / 2) - 84.6 * (4 / 4)
    assert r["flesch"] == round(expected, 2)


def test_readability_fragment_is_one_sentence(spark):
    from b2b_data_pipeline_indiamart_spark.operators import textstats

    docs = spark.createDataFrame([(1, "no punctuation here")], ["doc_id", "text"])
    [r] = textstats.readability(docs).collect()
    assert r["n_sentences"] == 1


def test_quality_logit_monotone_and_threshold(spark):
    from b2b_data_pipeline_indiamart_spark.operators import textstats

    long_clean = " ".join(["the quick brown fox jumps over the lazy dog"] * 10)
    noisy = "@@!! 123 456 $$%% 789 ##"
    docs = spark.createDataFrame(
        [(1, long_clean), (2, noisy)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in textstats.quality_logit(docs).collect()}
    assert out[1]["quality_prob"] > out[2]["quality_prob"]
    assert out[1]["keep"] is True and out[2]["keep"] is False
    # keep is exactly prob >= 0.5 on the rounded value
    for r in out.values():
        assert r["keep"] == (r["quality_prob"] >= 0.5)


# ------------------------------------------------ batch B: SemDeDup


def _emb_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


def test_semdedup_keep_rule_hand_computed(spark):
    from b2b_data_pipeline_indiamart_spark.operators import similarity

    # cluster 0: a=[1,0], b=[1,0.1], c=[0,1]; cos(a,b) ~ 0.995,
    # cos(a,c)=0, cos(b,c) ~ 0.0995 -> at 0.9: only b dropped.
    # cluster 1: d=[1,0] identical to a but different cluster -> kept.
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.1], 0),
        (3, [0.0, 1.0], 0),
        (4, [1.0, 0.0], 1),
    ]
    out = {
        r["vec_id"]: r["kept"]
        for r in similarity.semdedup(
            _emb_df(spark, rows), "label", threshold=0.9
        ).collect()
    }
    assert out == {1: True, 2: False, 3: True, 4: True}


def test_semdedup_exists_rule_is_not_transitive_closure(spark):
    from b2b_data_pipeline_indiamart_spark.operators import similarity

    # chain: a~b (cos ~0.982), b~c (~0.985), a~c (~0.935): at 0.95
    # b dropped (a below it), c dropped (b below it, even though b
    # itself was dropped) — the documented exists-based rule.
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.19], 0),
        (3, [1.0, 0.38], 0),
    ]
    out = {
        r["vec_id"]: r["kept"]
        for r in similarity.semdedup(
            _emb_df(spark, rows), "label", threshold=0.95
        ).collect()
    }
    assert out == {1: True, 2: False, 3: False}


def test_semdedup_null_cluster_always_kept(spark):
    from b2b_data_pipeline_indiamart_spark.operators import similarity

    rows = [(1, [1.0, 0.0], None), (2, [1.0, 0.0], None)]
    out = {
        r["vec_id"]: r["kept"]
        for r in similarity.semdedup(
            _emb_df(spark, rows), "label", threshold=0.5
        ).collect()
    }
    assert out == {1: True, 2: True}


def test_semdedup_invariant_to_n_blocks(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark import catalog
    from b2b_data_pipeline_indiamart_spark.operators import similarity

    emb = catalog.load(spark, sf_small, "embeddings")
    a = sorted(
        map(tuple, similarity.semdedup(emb, "label", threshold=0.3, n_blocks=2).collect())
    )
    b = sorted(
        map(tuple, similarity.semdedup(emb, "label", threshold=0.3, n_blocks=7).collect())
    )
    assert a == b


def test_semdedup_kmeans_deterministic_and_rule_consistent(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark import catalog
    from b2b_data_pipeline_indiamart_spark.operators import similarity

    emb = catalog.load(spark, sf_small, "embeddings")
    r1 = similarity.semdedup_kmeans(emb, 64, n_clusters=8, threshold=0.3)
    rows1 = sorted(map(tuple, r1.collect()))
    rows2 = sorted(map(tuple, similarity.semdedup_kmeans(
        emb, 64, n_clusters=8, threshold=0.3).collect()))
    assert rows1 == rows2  # driver may re-run: must be deterministic
    # the keep rule must agree with semdedup() run on the SAME clusters
    clusters = spark.createDataFrame(
        [(v, c) for (v, c, _k) in rows1], "vec_id long, cl int"
    )
    joined = emb.join(clusters, "vec_id").select("vec_id", "embedding", "cl")
    ref = {
        r["vec_id"]: r["kept"]
        for r in similarity.semdedup(joined, "cl", threshold=0.3).collect()
    }
    assert {v: k for (v, _c, k) in rows1} == ref
    # it actually deduplicates something on the test corpus
    assert any(not k for (_v, _c, k) in rows1)


# ------------------------------------------------ batch C: events ops


def test_markov_transitions_hand_computed(spark):
    from datetime import datetime

    from b2b_data_pipeline_indiamart_spark.operators import temporal

    mk = lambda m: datetime(2026, 1, 1, 10, m)  # noqa: E731
    rows = [
        # user 1: view -> click -> purchase
        (1, mk(0), 1, "view", 1.0),
        (2, mk(1), 1, "click", 1.0),
        (3, mk(2), 1, "purchase", 5.0),
        # user 2: view -> click
        (4, mk(0), 2, "view", 1.0),
        (5, mk(3), 2, "click", 1.0),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        (r["cur_type"], r["next_type"]): (r["n_transitions"], r["prob"])
        for r in temporal.markov_transitions(events).collect()
    }
    # user 2's click is terminal (no successor), so the only click
    # transition is user 1's click->purchase: P = 1/1
    assert got == {
        ("view", "click"): (2, 1.0),
        ("click", "purchase"): (1, 1.0),
    }


def test_conversion_lag_buckets_hand_computed(spark):
    from datetime import datetime, timedelta

    from b2b_data_pipeline_indiamart_spark.operators import temporal

    t0 = datetime(2026, 1, 10, 12, 0)
    rows = [
        # u1: view then purchase 10 min later -> 05-30m
        (1, t0, 1, "view", 0.0),
        (2, t0 + timedelta(minutes=10), 1, "purchase", 100.0),
        # u2: view then purchase 30h later -> organic (expired)
        (3, t0, 2, "view", 0.0),
        (4, t0 + timedelta(hours=30), 2, "purchase", 50.0),
        # u3: purchase with no view at all -> organic
        (5, t0, 3, "purchase", 10.0),
        # u4: view then purchase 2 min later -> 00-05m
        (6, t0, 4, "view", 0.0),
        (7, t0 + timedelta(minutes=2), 4, "purchase", 20.0),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        r["lag_bucket"]: r
        for r in temporal.conversion_lag_histogram(events).collect()
    }
    assert got["05-30m"]["n_conversions"] == 1
    assert got["05-30m"]["avg_lag_min"] == 10.0
    assert got["00-05m"]["n_conversions"] == 1
    assert got["organic"]["n_conversions"] == 2
    assert got["organic"]["avg_lag_min"] is None
    assert got["organic"]["avg_value"] == 30.0


def test_rolling_active_users_hand_computed(spark):
    from datetime import datetime

    from b2b_data_pipeline_indiamart_spark.operators import temporal

    d = lambda day, u: (day * 100 + u, datetime(2026, 1, day, 9), u, "view", 1.0)  # noqa: E731
    # day 1: users {1,2}; day 5: {2,3}; day 10: {1}
    rows = [d(1, 1), d(1, 2), d(5, 2), d(5, 3), d(10, 1)]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {r["day"]: (r["dau"], r["wau"]) for r in
           temporal.rolling_active_users(events).collect()}
    # day 1 window [dec 26..jan 1]: users {1,2}; day 5 window
    # [dec 30..jan 5]: {1,2,3}; day 10 window [jan 4..10]: {1,2,3}
    assert got == {
        "2026-01-01": (2, 2),
        "2026-01-05": (2, 3),
        "2026-01-10": (1, 3),
    }


# ------------------------------------------------ batch F: rank/SLA/curriculum


def test_error_rate_sla_breach_flag(spark):
    from datetime import datetime

    from b2b_data_pipeline_indiamart_spark.plans import QUERIES  # noqa: F401
    from b2b_data_pipeline_indiamart_spark.functions.rounding import round_half_up  # noqa: F401

    # build via the registry callable's operator shape inline: 1 error
    # of 2 events in hour A (breach), 1 of 10 in hour B (ok)
    rows = [(i, datetime(2026, 1, 1, 10, i), 1, "error" if i == 0 else "view", 1.0)
            for i in range(2)]
    rows += [(100 + i, datetime(2026, 1, 1, 11, i), 1,
              "error" if i == 0 else "view", 1.0) for i in range(10)]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    from pyspark.sql import functions as FF
    err = FF.sum(FF.when(FF.col("event_type") == "error", 1).otherwise(0))
    rate = FF.round(err / FF.count(FF.lit(1)), 4)
    got = {
        r["hour"]: (r["error_rate"], r["sla_breach"])
        for r in events.groupBy(
            FF.date_format(FF.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour")
        ).agg(rate.alias("error_rate"), (rate > 0.25).alias("sla_breach")).collect()
    }
    assert got["2026-01-01 10:00"] == (0.5, True)
    assert got["2026-01-01 11:00"] == (0.1, False)


def test_curriculum_buckets_phases_ordered_and_complete(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark.operators import caching
    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    rows = {r["phase"]: r for r in
            QUERIES["docs_curriculum_buckets"](spark, sf_small).collect()}
    caching.release_cached()
    assert set(rows) == {1, 2, 3, 4}
    # phases are an easy-to-hard curriculum: avg quality rises with phase
    quals = [rows[p]["avg_quality"] for p in (1, 2, 3, 4)]
    assert quals == sorted(quals)
    # every eligible doc lands in exactly one phase
    n_total = sum(rows[p]["n_docs"] for p in rows)
    assert n_total == 500  # sf0.001 documents table, all non-null


# --------------------------------------- batch G: bounce rate / first-last


def test_bounce_rate_hand_computed(spark):
    from datetime import datetime, timedelta

    from b2b_data_pipeline_indiamart_spark.operators import temporal

    t0 = datetime(2026, 1, 10, 12, 0)
    rows = [
        # u1: two events 5 min apart -> ONE session of 2 (not a bounce)
        (1, t0, 1, "view", 1.0),
        (2, t0 + timedelta(minutes=5), 1, "click", 1.0),
        # u2: one event -> bounce
        (3, t0, 2, "view", 1.0),
        # u1 next day: one event -> bounce, lands on day 2
        (4, t0 + timedelta(days=1), 1, "view", 1.0),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {r["day"]: (r["n_sessions"], r["n_bounces"], r["bounce_rate"])
           for r in temporal.bounce_rate_daily(events).collect()}
    assert got == {
        "2026-01-10": (2, 1, 0.5),
        "2026-01-11": (1, 1, 1.0),
    }


def test_sessionize_unchanged_by_session_ids_refactor(spark, sf_small):
    """The shared session_ids core must reproduce sessionize's exact
    output (the oracle-pinned key rides on it)."""
    from b2b_data_pipeline_indiamart_spark import catalog
    from b2b_data_pipeline_indiamart_spark.operators import temporal

    events = catalog.load(spark, sf_small, "events")
    out = temporal.sessionize(events, gap_minutes=30)
    ids = temporal.session_ids(events, gap_minutes=30)
    # every event got an id; session counts agree with the rollup
    assert ids.count() == events.count()
    assert out.count() == ids.select("user_id", "session_id").distinct().count()


# --------------------------------- batch H: pack efficiency / MAD anomaly


def test_pack_efficiency_consistency(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    rows = QUERIES["docs_pack_efficiency"](spark, sf_small).collect()
    assert {r["pack_bucket"] for r in rows} == set(range(8))
    for r in rows:
        # fill can never exceed capacity unless a single doc overflows
        # a bin (next-fit places oversized docs alone); utilization is
        # positive and tokens/bins are consistent
        assert r["n_bins"] >= 1 and r["n_docs"] >= 1
        assert r["utilization"] == round(
            r["total_tokens"] / (r["n_bins"] * 256), 4
        )


def test_anomaly_mad_flags_spike_zscore_misses_nothing(spark):
    from datetime import datetime

    # 23 calm hours of ~6 events and one 60-event spike: the median
    # and MAD ignore the spike, so its robust z is huge
    rows = []
    eid = 0
    for h in range(23):
        for i in range(6 + (h % 2)):  # 6 or 7 events per hour
            rows.append((eid, datetime(2026, 1, 1, h, i), 1, "view", 1.0))
            eid += 1
    for i in range(60):
        rows.append((eid, datetime(2026, 1, 1, 23, i % 60), 1, "view", 1.0))
        eid += 1
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {r["hour"]: r for r in _mad_on(events).collect()}
    spike = got["2026-01-01 23:00"]
    assert spike["is_anomaly"] is True and spike["robust_z"] > 3
    calm = got["2026-01-01 11:00"]
    assert calm["is_anomaly"] is False


def _mad_on(events):
    from pyspark.sql import functions as FF

    from b2b_data_pipeline_indiamart_spark.functions.rounding import round_half_up

    cnt = events.groupBy(
        "event_type",
        FF.date_format(FF.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour"),
    ).agg(FF.count(FF.lit(1)).cast("long").alias("n"))
    med = cnt.groupBy("event_type").agg(FF.expr("percentile(n, 0.5)").alias("m"))
    j = cnt.join(FF.broadcast(med), "event_type")
    mad = j.groupBy("event_type").agg(FF.expr("percentile(abs(n - m), 0.5)").alias("mad"))
    out = j.join(FF.broadcast(mad), "event_type")
    rz = FF.when(
        FF.col("mad") > 0,
        round_half_up((FF.col("n") - FF.col("m")) / (1.4826 * FF.col("mad")), 4),
    )
    return out.select(
        "event_type", "hour", "n", rz.alias("robust_z"),
        FF.coalesce(FF.abs(rz) > 3, FF.lit(False)).alias("is_anomaly"),
    )


# ------------------------------------- batch I: novelty / churn / degree


def test_ngram_novelty_hand_computed(spark):
    from b2b_data_pipeline_indiamart_spark.operators.decontam import ngram_novelty

    # doc1 "a b c d": trigrams {abc, bcd}; doc2 "a b c": {abc}
    # abc df=2 (shared), bcd df=1 (unique) -> doc1 novelty 0.5, doc2 0
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: (r["n_grams"], r["novelty"])
           for r in ngram_novelty(docs, n=3).collect()}
    assert got == {1: (2, 0.5), 2: (1, 0.0)}


def test_knn_degree_hand_computed(spark):
    from b2b_data_pipeline_indiamart_spark.operators import similarity

    # a~b (cos 1.0), c orthogonal: degrees a=1, b=1, c=0
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    pairs = similarity.cosine_neardup_blocked(emb, threshold=0.5)
    both = pairs.select(F.col("id_a").alias("vid")).unionAll(
        pairs.select(F.col("id_b").alias("vid"))
    )
    deg = {r["vid"]: r["d"] for r in both.groupBy("vid").agg(
        F.count(F.lit(1)).alias("d")).collect()}
    assert deg == {1: 1, 2: 1}  # c has no row (zero degree)


# ------------------------------- batch J: first-touch / source overlap


def test_first_touch_picks_earliest_view_in_window(spark):
    from datetime import datetime, timedelta

    from b2b_data_pipeline_indiamart_spark.plans import QUERIES  # noqa: F401
    from pyspark.sql import Window as W
    from pyspark.sql import functions as FF

    t0 = datetime(2026, 1, 10, 12, 0)
    rows = [
        # u1: views at t0 and t0+10m, purchase at t0+20m ->
        # first-touch = t0 (lag 20m); last-touch would be 10m
        (1, t0, 1, "view", 0.0),
        (2, t0 + timedelta(minutes=10), 1, "view", 0.0),
        (3, t0 + timedelta(minutes=20), 1, "purchase", 50.0),
        # u2: view 30h before purchase -> outside window, organic
        (4, t0 - timedelta(hours=30), 2, "view", 0.0),
        (5, t0, 2, "purchase", 10.0),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    us = FF.unix_micros(FF.col("ts"))
    u = events.filter(FF.col("event_type").isin("view", "purchase")).select(
        "user_id", "ts", "event_type", "value",
        FF.when(FF.col("event_type") == "view", us).alias("view_us"),
    )
    w = W.partitionBy("user_id").orderBy(us).rangeBetween(-86_400_000_000, -1)
    got = (
        u.withColumn("fv", FF.min("view_us").over(w))
        .filter(FF.col("event_type") == "purchase")
        .select("user_id", "fv", us.alias("pus"))
        .collect()
    )
    by_user = {r["user_id"]: r for r in got}
    # u1 attributed to the EARLIEST view (lag 20 min, not 10)
    assert by_user[1]["pus"] - by_user[1]["fv"] == 20 * 60 * 1_000_000
    assert by_user[2]["fv"] is None  # outside 24h window


def test_cross_source_overlap_jaccard_hand_computed(spark):
    from b2b_data_pipeline_indiamart_spark.plans import QUERIES
    import os
    import tempfile

    # two sources sharing exactly one trigram out of 2 and 1
    docs = spark.createDataFrame(
        [(1, "a b c d", "en", "s1", 7), (2, "a b c", "en", "s2", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        [r] = QUERIES["docs_cross_source_overlap"](spark, d).collect()
    # s1 grams {abc,bcd}, s2 {abc}: inter 1, union 2 -> jaccard 0.5
    assert (r["src_a"], r["src_b"]) == ("s1", "s2")
    assert (r["n_shared"], r["n_a"], r["n_b"], r["jaccard"]) == (1, 2, 1, 0.5)


# ------------------------------------------------ batch M: PageRank


def test_pagerank_star_graph_hand_checked(spark):
    from b2b_data_pipeline_indiamart_spark.operators import caching, graph

    # undirected star: hub 0 <-> spokes 1..4. Symmetry: all spokes
    # equal; hub > spoke. Closed form (d=0.85, N=5):
    # hub = 0.03 + 0.85 * 4*spoke (spokes have outdeg 1)
    # spoke = 0.03 + 0.85 * hub/4
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)],
        "src long, dst long",
    )
    rows = {r["node"]: r["rank"] for r in
            graph.pagerank(edges, tol=1e-7, max_iter=30).collect()}
    caching.release_cached()
    hub, spokes = rows[0], [rows[i] for i in range(1, 5)]
    assert len(set(spokes)) == 1  # symmetry
    assert hub > spokes[0]
    # closed-form solution within the convergence envelope: delta
    # contracts by the damping factor per iteration, so 30 iterations
    # leave a residual of ~0.3 * 0.85^30 ~= 2e-3
    assert abs(hub - 0.475676) < 3e-3
    assert abs(spokes[0] - 0.131081) < 3e-3
    assert abs(sum(rows.values()) - 1.0) < 1e-4  # mass conserved


def test_pagerank_dangling_mass_redistributes(spark):
    from b2b_data_pipeline_indiamart_spark.operators import caching, graph

    # 1 -> 2, 2 has no out-edges (dangling): without redistribution
    # total mass decays; with it, ranks still sum to 1
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    rows = {r["node"]: r["rank"] for r in
            graph.pagerank(edges, tol=1e-7, max_iter=30).collect()}
    caching.release_cached()
    assert abs(sum(rows.values()) - 1.0) < 1e-4
    assert rows[2] > rows[1]  # the sink receives 1's mass


def test_pagerank_string_node_ids(spark):
    """Non-integer node ids must WORK, not silently empty out: the
    regression was cast('long') nulling every string id, the self-loop
    filter then dropping all rows, and the caller getting an empty
    frame instead of ranks. String-relabeled graph must produce the
    same ranks as the long-id original."""
    from b2b_data_pipeline_indiamart_spark.operators import caching, graph

    pairs = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    long_edges = spark.createDataFrame(pairs, "src long, dst long")
    str_edges = spark.createDataFrame(
        [(f"user_{s}", f"user_{d}") for s, d in pairs],
        "src string, dst string",
    )
    want = {f"user_{r['node']}": r["rank"] for r in
            graph.pagerank(long_edges, tol=1e-7, max_iter=30).collect()}
    caching.release_cached()
    got = {r["node"]: r["rank"] for r in
           graph.pagerank(str_edges, tol=1e-7, max_iter=30).collect()}
    caching.release_cached()
    assert got == want and len(got) == 5


def test_pagerank_deterministic_across_runs(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark.operators import caching
    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    a = [tuple(r) for r in QUERIES["part_pagerank"](spark, sf_small).collect()]
    caching.release_cached()
    b = [tuple(r) for r in QUERIES["part_pagerank"](spark, sf_small).collect()]
    caching.release_cached()
    assert a == b and len(a) > 0


# ------------------------------------------------------------ PCA project


def test_pca_project_matches_numpy(spark, sf_small):
    import numpy as np

    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    # registry key emits long form (vec_id, component, coord)
    long = QUERIES["embedding_pca_project"](spark, sf_small).collect()
    out = {}
    for r in long:
        out.setdefault(r["vec_id"], {})[r["component"]] = r["coord"]
    out = {
        vid: np.asarray([d[c] for c in sorted(d)]) for vid, d in out.items()
    }
    rows = spark.read.parquet(f"{sf_small}/embeddings.parquet").collect()
    ids = [r["vec_id"] for r in rows]
    x = np.array([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    mu = x.mean(axis=0)
    cov = np.cov(x, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    v = evecs[:, ::-1][:, :8]
    idx = np.argmax(np.abs(v), axis=0)
    signs = np.sign(v[idx, np.arange(8)])
    signs[signs == 0] = 1.0
    ref = (x - mu) @ (v * signs)
    assert set(out) == set(ids)
    for i, vid in enumerate(ids):
        assert np.allclose(out[vid], ref[i], atol=2e-5)


def test_pca_project_deterministic_and_variance_capture(spark, sf_small):
    import numpy as np

    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    def _wide(rows):
        acc = {}
        for r in rows:
            acc.setdefault(r["vec_id"], {})[r["component"]] = r["coord"]
        return [
            (vid, tuple(d[c] for c in sorted(d)))
            for vid, d in sorted(acc.items())
        ]

    a = _wide(QUERIES["embedding_pca_project"](spark, sf_small).collect())
    b = _wide(QUERIES["embedding_pca_project"](spark, sf_small).collect())
    assert a == b and len(a) > 0
    # per-component variance of the projection == top eigenvalues
    # (descending), i.e. the reduce actually captured the top of the
    # spectrum and components arrive in order
    z = np.array([list(p) for _, p in a])
    var = z.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(len(var) - 1))
    x = np.array([
        np.asarray(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{sf_small}/embeddings.parquet").collect()
    ])
    ref = np.linalg.eigvalsh(np.cov(x, rowvar=False, bias=True))[::-1][:8]
    assert np.allclose(var, ref, atol=1e-4)


# ------------------------------------------------- cluster purity QA


def test_cluster_purity_deterministic_and_sane(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    a = [tuple(r) for r in
         QUERIES["embedding_cluster_purity"](spark, sf_small).collect()]
    b = [tuple(r) for r in
         QUERIES["embedding_cluster_purity"](spark, sf_small).collect()]
    caching.release_cached()
    assert a == b and len(a) > 0
    total = sum(r[1] for r in a)
    n_emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").count()
    assert total == n_emb  # every vector lands in exactly one cluster
    for _, n_vecs, maj, purity in a:
        assert n_vecs > 0 and 0.0 < purity <= 1.0
        # purity can never undercut the uniform floor of its own cluster
        assert purity >= round(1.0 / n_vecs, 4)


def test_cluster_purity_matches_independent_recompute(spark):
    """The purity READOUT pinned against an independent recompute:
    run the same seeded kmeans+assign the operator uses, tally
    (cluster, label) in Python, and require identical n_vecs /
    majority (smaller label on ties) / 4dp purity per cluster. Blob
    corpus keeps it interpretable; the pin holds regardless of how
    well this seed separates the blobs."""
    from collections import Counter

    from b2b_data_pipeline_indiamart_spark.operators.similarity import (
        cluster_label_purity,
        ivf_assign,
        kmeans_centroids,
    )

    rows = []
    vid = 0
    for label, axis in [(0, 0), (1, 1), (2, 2)]:
        for j in range(20):
            v = [0.0] * 8
            v[axis] = 10.0 + 0.01 * j
            rows.append((vid, v, label))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {r["cluster"]: r for r in
           cluster_label_purity(emb, dim=8, n_clusters=3).collect()}
    cents = kmeans_centroids(emb, 8, n_cells=3, seed=42)
    assigned = {
        r["__aid"]: r["cell"]
        for r in ivf_assign(emb, cents, out_id="__aid").collect()
    }
    caching.release_cached()
    labels = {vid: lab for vid, _, lab in rows}
    tally: dict[int, Counter] = {}
    for vid2, cell in assigned.items():
        tally.setdefault(cell, Counter())[labels[vid2]] += 1
    assert set(out) == set(tally)
    for cell, counts in tally.items():
        n = sum(counts.values())
        best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
        r = out[cell]
        assert r["n_vecs"] == n
        assert r["majority_label"] == best[0]
        assert abs(r["purity"] - round(best[1] / n, 4)) < 1e-9
    assert sum(r["n_vecs"] for r in out.values()) == 60


# ------------------------------------------------------------ BPE apply


def test_bpe_train_merges_hand_corpus(spark):
    """Classic-BPE behavior on a corpus where the merge order is
    computable by hand: 'abab' x3 + 'abc' x2 -> pair counts
    ab:8 (3*2+2), ba:3, bc:2 -> first merge ('a','b'); then
    ('ab','ab'):3 vs ('ab','c'):2 -> second merge ('ab','ab')."""
    from b2b_data_pipeline_indiamart_spark.operators.textstats import (
        bpe_segment,
        bpe_train_merges,
    )

    docs = spark.createDataFrame(
        [(1, "abab abab abab abc abc")], "doc_id long, text string"
    )
    # words (distinct grain): abab wf=3, abc wf=2
    # step 1: ab:3*2+2=8 beats ba:3, bc:2 -> ('a','b')
    # step 2: (ab,ab):3 beats (ab,c):2 -> ('ab','ab')
    # step 3: only (ab,c):2 remains    -> ('ab','c'), then no pairs
    merges = bpe_train_merges(docs, n_merges=5)
    assert merges == [("a", "b"), ("ab", "ab"), ("ab", "c")]


def test_bpe_segment_reproduces_training_and_preserves_concat(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark.operators.dedup import word_tokens
    from b2b_data_pipeline_indiamart_spark.operators.textstats import (
        bpe_segment,
        bpe_train_merges,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    merges = bpe_train_merges(docs, n_merges=30)
    assert len(merges) == 30 and len(set(merges)) == 30
    ranks = {p: i for i, p in enumerate(merges)}
    words = [r["tok"] for r in docs.select(
        F.explode(word_tokens(F.col("text"))).alias("tok")
    ).distinct().limit(200).collect()]
    for w in words:
        segs = bpe_segment(w, ranks)
        assert "".join(segs) == w  # merges never invent or drop chars
        # no adjacent pair with a rank may remain (greedy ran to fixpoint)
        assert all(
            (a, b) not in ranks for a, b in zip(segs, segs[1:])
        ), (w, segs)


def test_bpe_tokenize_docs_deterministic_and_bounded(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    a = [tuple(r) for r in QUERIES["docs_bpe_tokenize"](spark, sf_small).collect()]
    b = [tuple(r) for r in QUERIES["docs_bpe_tokenize"](spark, sf_small).collect()]
    caching.release_cached()
    assert a == b and len(a) > 0
    for _, n_words, n_subwords, avg in a:
        # each word yields between 1 and len(word) subwords
        assert n_words <= n_subwords
        assert 1.0 <= avg


def test_pca_project_preserves_string_ids(spark):
    """Review fix pinned: non-integer id columns survive in their own
    type (the old cast('long') nulled every string id — the same
    silent-corruption class fixed in pagerank)."""
    import numpy as np

    from b2b_data_pipeline_indiamart_spark.operators.similarity import (
        pca_project,
    )

    rng = np.random.default_rng(3)
    rows = [(f"doc_{i}", [float(x) for x in rng.normal(size=4)])
            for i in range(20)]
    emb = spark.createDataFrame(rows, "doc_key string, embedding array<double>")
    out = pca_project(emb, dim=4, k=2, id_col="doc_key").collect()
    ids = {r["doc_key"] for r in out}
    assert ids == {f"doc_{i}" for i in range(20)}
    assert all(len(r["proj"]) == 2 for r in out)


def test_cluster_purity_rejects_non_integer_ids(spark):
    import pytest as _pytest

    from b2b_data_pipeline_indiamart_spark.operators.similarity import (
        cluster_label_purity,
    )

    emb = spark.createDataFrame(
        [("a", [1.0, 0.0], 0)], "vec_id string, embedding array<double>, label int"
    )
    with _pytest.raises(ValueError, match="integer type"):
        cluster_label_purity(emb, dim=2, n_clusters=2)


# ------------------------------------------------------- expectations


def test_expectations_each_rule_kind_counts_planted_dirt(spark):
    """Every rule kind against a frame with KNOWN violations (the
    synthetic orders table is clean, so the registry key only proves
    the zero path — this is the dirt path)."""
    from b2b_data_pipeline_indiamart_spark.operators.profiling import (
        expectations,
    )

    df = spark.createDataFrame(
        [
            (1, None, 10.0, "F", 100),    # null date
            (2, "2026-01-02", -5.0, "O", 101),  # non-positive price
            (2, "2026-01-03", 7.0, "X", 999),   # dup key, bad status, orphan fk
            (3, "2026-01-04", None, "P", None), # null price; NULL fk = NO viol
            (3, "2026-01-05", 900.0, "F", 100), # dup key, out of range
        ],
        "k long, d string, price double, status string, cust long",
    )
    ref = spark.createDataFrame([(100,), (101,)], "ck long")
    out = {r["rule"]: (r["n_violations"], r["passed"]) for r in expectations(
        df,
        [
            ("d_not_null", "not_null", "d"),
            ("price_positive", "positive", "price"),
            ("price_range", "range", "price", 0.0, 100.0),
            ("status_in_set", "in_set", "status", ["F", "O", "P"]),
            ("k_unique", "unique", ["k"]),
            ("cust_fk", "fk", ["cust"], "ref", ["ck"]),
        ],
        ref_tables={"ref": ref},
    ).collect()}
    assert out == {
        "d_not_null": (1, False),
        "price_positive": (2, False),     # -5.0 and NULL
        "price_range": (2, False),        # -5.0 and 900.0 (NULL not counted)
        "status_in_set": (1, False),      # 'X' (NULL would not count)
        "k_unique": (2, False),           # keys 2 and 3 each once extra
        "cust_fk": (1, False),            # cust 999
    }


def test_expectations_clean_frame_all_pass_and_empty_rules(spark):
    from b2b_data_pipeline_indiamart_spark.operators.profiling import (
        expectations,
    )

    df = spark.createDataFrame([(1, 5.0)], "k long, v double")
    out = expectations(
        df, [("v_pos", "positive", "v"), ("k_uniq", "unique", ["k"])]
    ).collect()
    assert all(r["passed"] and r["n_violations"] == 0 for r in out)
    assert expectations(df, []).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown rule kind"):
        expectations(df, [("bad", "nope", "v")]).collect()


# ------------------------------------------------- HLL sketch rollup


def test_hll_rollup_error_bound_and_determinism(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark.plans import QUERIES
    from pyspark.sql import functions as F

    a = [tuple(r) for r in
         QUERIES["events_users_hll_rollup"](spark, sf_small).collect()]
    b = [tuple(r) for r in
         QUERIES["events_users_hll_rollup"](spark, sf_small).collect()]
    assert a == b and len(a) > 0
    got = {r[0]: r[2] for r in a}
    events = spark.read.parquet(f"{sf_small}/events.parquet")
    exact = {
        r["week"]: r["n"]
        for r in events.groupBy(
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week")
        ).agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(got) == set(exact)
    for wk, est in got.items():
        # lg_k=12 -> ~1.6% rel std err; 5 sigma ~ 8%, floor for tiny weeks
        assert abs(est - exact[wk]) <= max(8, 0.08 * exact[wk]), (
            wk, est, exact[wk]
        )


def test_hll_union_equals_direct_sketch_of_union(spark):
    """Merge soundness: union of daily sketches must estimate the
    same set as one sketch over all rows — sketches are mergeable,
    so both paths see identical estimates for identical lg_k."""
    from pyspark.sql import functions as F

    df = spark.range(5000).selectExpr(
        "CAST(id % 7 AS LONG) AS day", "CAST(id % 997 AS LONG) AS user_id"
    )
    merged = (
        df.groupBy("day").agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .collect()[0]["e"]
    )
    direct = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("e")
    ).collect()[0]["e"]
    assert merged == direct


# --------------------------------------------------------- A/B testing


def test_ab_test_welch_z_hand_frame(spark, tmp_path):
    """Welch z pinned on a hand frame: control users {10, 20}, treat
    {30, 50} -> m0=15 m1=40, s0²=50 s1²=200, z = 25/sqrt(25+100)."""
    import math
    import os

    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    events = spark.createDataFrame(
        [
            (1, "2026-01-01T10:00:00", 2, "view", 10.0, "{}"),
            (2, "2026-01-01T10:01:00", 4, "view", 20.0, "{}"),
            (3, "2026-01-01T10:02:00", 1, "view", 30.0, "{}"),
            (4, "2026-01-01T10:03:00", 3, "view", 50.0, "{}"),
        ],
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "to_timestamp(ts_s) AS ts", "user_id", "event_type",
        "value", "props",
    )
    d = str(tmp_path)
    events.write.parquet(os.path.join(d, "events.parquet"))
    [r] = QUERIES["events_ab_test"](spark, d).collect()
    assert (r["control_users"], r["treatment_users"]) == (2, 2)
    assert (r["control_mean"], r["treatment_mean"]) == (15.0, 40.0)
    assert r["abs_lift"] == 25.0
    want_z = 25.0 / math.sqrt(50.0 / 2 + 200.0 / 2)
    assert abs(r["z_score"] - round(want_z, 4)) < 1e-9


def test_ab_bootstrap_brackets_point_and_is_deterministic(spark, sf_small):
    import math

    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    [a] = QUERIES["events_ab_bootstrap"](spark, sf_small).collect()
    [b] = QUERIES["events_ab_bootstrap"](spark, sf_small).collect()
    assert tuple(a) == tuple(b)
    assert a["ci_lo"] <= a["point_lift"] <= a["ci_hi"]
    width = a["ci_hi"] - a["ci_lo"]
    assert width > 0
    # order-of-magnitude agreement with the closed-form Welch interval
    [w] = QUERIES["events_ab_test"](spark, sf_small).collect()
    welch_half = abs(w["abs_lift"] / w["z_score"]) * 1.96
    assert 0.25 * welch_half <= width / 2 <= 4 * welch_half


def test_ab_bootstrap_constant_values_collapse_ci(spark):
    from b2b_data_pipeline_indiamart_spark.operators.analytics import (
        poisson_bootstrap_lift,
    )

    u = spark.createDataFrame(
        [(i, i % 2, 10.0) for i in range(40)],
        "user_id long, variant int, user_value double",
    )
    [r] = poisson_bootstrap_lift(u, n_reps=50).collect()
    # identical values in both arms: every resample's lift is exactly 0
    assert (r["point_lift"], r["ci_lo"], r["ci_hi"]) == (0.0, 0.0, 0.0)


# ------------------------------------------------------------ OOD scores


def test_ood_scores_deterministic_and_planted_outlier(spark):
    import numpy as np

    from b2b_data_pipeline_indiamart_spark.operators.similarity import (
        ood_scores,
    )

    rng = np.random.default_rng(5)
    rows = []
    for i in range(60):
        v = np.zeros(8)
        v[i % 2] = 10.0
        v += rng.normal(0, 0.05, size=8)  # two tight blobs
        rows.append((i, [float(x) for x in v]))
    anti = [0.0] * 8
    anti[5] = -7.0
    anti[6] = 7.0  # far from both blobs
    rows.append((999, anti))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(tuple(r) for r in ood_scores(emb, dim=8, n_clusters=2).collect())
    b = sorted(tuple(r) for r in ood_scores(emb, dim=8, n_clusters=2).collect())
    caching.release_cached()
    assert a == b and len(a) == 61
    by_id = {r[0]: r for r in a}
    top = max(a, key=lambda r: r[3])
    assert top[0] == 999  # the planted outlier has the max z
    assert by_id[999][3] > 3.0
    # blob members sit near their centroid: small distance
    assert all(by_id[i][2] < 0.05 for i in range(60))


def test_mannwhitney_hand_reference(spark, tmp_path):
    """U and tie-corrected z pinned against a pure-Python midrank
    computation on a frame WITH ties across variants."""
    import math
    import os

    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    # users 0..7 alternate variants; values planted with cross-variant ties
    vals = {0: 5.0, 2: 7.0, 4: 7.0, 6: 12.0,   # variant 0
            1: 7.0, 3: 9.0, 5: 12.0, 7: 15.0}  # variant 1
    rows = []
    for i, (uid, v) in enumerate(sorted(vals.items())):
        rows.append((i, "2026-01-01T10:00:00", uid, "view", v, "{}"))
    events = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr("event_id", "to_timestamp(ts_s) AS ts", "user_id",
                 "event_type", "value", "props")
    d = str(tmp_path)
    events.write.parquet(os.path.join(d, "events.parquet"))
    [r] = QUERIES["events_mannwhitney"](spark, d).collect()

    # reference: midranks over sorted values
    allv = sorted(vals.values())
    def midrank(v):
        idx = [i + 1 for i, x in enumerate(allv) if x == v]
        return sum(idx) / len(idx)
    r1 = sum(midrank(v) for u, v in vals.items() if u % 2 == 1)
    n0 = n1 = 4
    n = 8
    u_stat = r1 - n1 * (n1 + 1) / 2.0
    from collections import Counter
    tt = sum(t**3 - t for t in Counter(allv).values())
    var = n0 * n1 / 12.0 * ((n + 1) - tt / (n * (n - 1.0)))
    z = (u_stat - n0 * n1 / 2.0) / math.sqrt(var)
    assert (r["control_users"], r["treatment_users"]) == (4, 4)
    assert r["u_stat"] == round(u_stat, 2)
    assert abs(r["z_score"] - round(z, 4)) < 1e-9


def test_cuped_reduces_variance_and_keeps_planted_effect(spark, tmp_path):
    """CUPED on a corpus where pre-period strongly predicts post:
    theta ~ 1, variance reduction substantial, and the planted +5.0
    treatment effect survives adjustment (CUPED is unbiased)."""
    import os
    import random

    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    rng = random.Random(7)
    rows, eid = [], 0
    for uid in range(200):
        base = rng.uniform(10, 100)          # user-level propensity
        effect = 5.0 if uid % 2 == 1 else 0.0
        # pre event (day 1) and post event (day 9); span mid = day 5
        rows.append((eid, "2026-01-01T00:00:00", uid, "view",
                     round(base + rng.uniform(-1, 1), 2), "{}")); eid += 1
        rows.append((eid, "2026-01-09T00:00:00", uid, "view",
                     round(base + effect + rng.uniform(-1, 1), 2), "{}")); eid += 1
    events = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr("event_id", "to_timestamp(ts_s) AS ts", "user_id",
                 "event_type", "value", "props")
    d = str(tmp_path)
    events.write.parquet(os.path.join(d, "events.parquet"))
    [r] = QUERIES["events_ab_cuped"](spark, d).collect()
    assert (r["control_users"], r["treatment_users"]) == (100, 100)
    assert 0.9 <= r["theta"] <= 1.1            # pre ~ post slope ~ 1
    assert r["var_reduction"] > 0.9            # base variance removed
    assert abs(r["adjusted_lift"] - 5.0) < 0.5  # unbiased effect
    assert r["z_score"] > 10                   # tiny residual noise


def test_expectations_and_k_anonymity_empty_frame_report_zeros(spark):
    """Review fix pinned: aggregates over an EMPTY frame must report
    (0, passed=True) / all-zero privacy stats, never NULLs a gate
    would misread."""
    from b2b_data_pipeline_indiamart_spark.operators.profiling import (
        expectations,
    )
    from b2b_data_pipeline_indiamart_spark.operators.sampling import (
        k_anonymity_report,
    )

    empty = spark.createDataFrame([], "k long, v double, c string")
    out = {r["rule"]: (r["n_violations"], r["passed"]) for r in expectations(
        empty,
        [("v_pos", "positive", "v"), ("c_set", "in_set", "c", ["a"])],
    ).collect()}
    assert out == {"v_pos": (0, True), "c_set": (0, True)}
    [r] = k_anonymity_report(empty, ["c"], k=5).collect()
    assert (r["n_rows"], r["n_groups"], r["n_small_groups"],
            r["n_risky_rows"], r["risky_row_share"]) == (0, 0, 0, 0, 0.0)
    from b2b_data_pipeline_indiamart_spark.operators.sampling import (
        l_diversity_report,
    )

    [r] = l_diversity_report(empty, ["c"], "v", l=3).collect()
    assert (r["n_rows"], r["n_groups"], r["n_nondiverse_groups"],
            r["n_exposed_rows"], r["exposed_row_share"]) == (0, 0, 0, 0, 0.0)


def test_expectations_duplicate_rule_name_raises(spark):
    """ADVICE r7: two rules sharing a name used to build duplicate
    aliases in the single-pass aggregate and die later with an
    ambiguous-reference AnalysisException (or silently duplicate
    unique/fk report keys) — must be a clear ValueError up front."""
    import pytest as _pytest

    from b2b_data_pipeline_indiamart_spark.operators.profiling import (
        expectations,
    )

    df = spark.createDataFrame([(1, 2.0)], "k long, v double")
    with _pytest.raises(ValueError, match="duplicate rule name 'v_ok'"):
        expectations(
            df, [("v_ok", "positive", "v"), ("v_ok", "not_null", "v")]
        )


def test_ood_scores_degenerate_spread_emits_zero_z(spark):
    """ADVICE r7: constant distances (stddev 0) or a single vector
    (stddev NULL) must yield z = 0.0 for every row — the monitor
    stays total instead of NULLing out."""
    from b2b_data_pipeline_indiamart_spark.operators.similarity import (
        ood_scores,
    )

    # all-identical embeddings -> every distance identical -> sd == 0
    emb = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    rows = ood_scores(emb, dim=4, n_clusters=1).collect()
    assert len(rows) == 6 and all(r["z"] == 0.0 for r in rows)
    # single vector -> stddev_samp NULL -> same contract
    one = spark.createDataFrame(
        [(0, [0.5, 0.5, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    [r] = ood_scores(one, dim=4, n_clusters=1).collect()
    assert r["z"] == 0.0


def test_pagerank_restores_unset_confs_to_unset(spark):
    """ADVICE r7: the loop's finally-restore must not pin a previously
    default-derived conf — a conf that was UNSET before pagerank must
    be unset after, and an explicitly set one must keep its value."""
    from b2b_data_pipeline_indiamart_spark.operators.graph import pagerank
    from b2b_data_pipeline_indiamart_spark.session import conf_snapshot

    key = "spark.sql.adaptive.enabled"
    before = conf_snapshot(spark, key)
    if before is not None:  # make it unset for the probe, restore after
        spark.conf.unset(key)
    try:
        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (3, 1)], "src int, dst int"
        )
        pagerank(edges, max_iter=3).collect()
        assert conf_snapshot(spark, key) is None
    finally:
        if before is not None:
            spark.conf.set(key, before)
