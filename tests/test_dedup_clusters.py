from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from b2b_data_pipeline_indiamart_spark import catalog
from b2b_data_pipeline_indiamart_spark.operators import dedup


def test_connected_components_on_known_graph(spark):
    # components: {1,2,3,4} (chain), {10,11}, singleton 20 not in pairs
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_fails_loudly_without_convergence(spark, monkeypatch):
    """An exhausted round budget raises instead of returning labels
    from a graph that has not reached the star fixpoint."""
    monkeypatch.setattr(dedup, "_CC_MAX_ROUNDS", 1)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, small_graph_cap=0)


def test_connected_components_restores_unset_confs_to_unset(spark):
    """The loop's conf scope must not pin a default-derived conf: keys
    unset before the call are unset after it."""
    from b2b_data_pipeline_indiamart_spark.session import conf_snapshot

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    own = spark.newSession()
    for key in keys:
        own.conf.unset(key)
    pairs = own.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    got = dedup.connected_components(pairs, small_graph_cap=0).collect()
    assert {(r["node"], r["cluster_id"]) for r in got} == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10)
    }
    assert [conf_snapshot(own, key) for key in keys] == [None, None]


def test_dedup_clusters_invariants(spark, sf_small):
    docs = catalog.load(spark, sf_small, "documents")
    out = dedup.dedup_clusters(docs).persist()
    n_docs = docs.count()
    assert out.count() == n_docs  # every doc labelled
    # cluster_id is the min member (representative) of its cluster
    mins = out.groupBy("cluster_id").agg(F.min("doc_id").alias("m"))
    assert mins.filter(F.col("cluster_id") != F.col("m")).count() == 0
    # exactly one representative per cluster
    reps = out.filter("is_representative").count()
    clusters = out.select("cluster_id").distinct().count()
    assert reps == clusters
    # every LSH pair ends up in one cluster
    pairs = dedup.minhash_lsh_pairs(docs)
    joined = (
        pairs.join(out.select(F.col("doc_id").alias("id_a"), F.col("cluster_id").alias("c_a")), "id_a")
        .join(out.select(F.col("doc_id").alias("id_b"), F.col("cluster_id").alias("c_b")), "id_b")
    )
    assert joined.filter(F.col("c_a") != F.col("c_b")).count() == 0
    out.unpersist()


def test_dedup_clusters_deterministic(spark, sf_small):
    docs = catalog.load(spark, sf_small, "documents")
    a = sorted(map(tuple, dedup.dedup_clusters(docs).collect()))
    b = sorted(map(tuple, dedup.dedup_clusters(docs.repartition(7)).collect()))
    assert a == b


def test_dedup_clusters_keeps_null_text_docs(spark):
    # normalize_doc maps null-ish text to NULL and md5(NULL) is NULL;
    # the membership join must not drop those docs. All contentless
    # docs form ONE exact-dup group (GROUP BY NULL-equality semantics,
    # matching exact_dedup_groups and the MinHash shingle behavior);
    # non-scrubbed text like "-" stays its own cluster.
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, None),
            (4, "null"),
            (5, "  -  "),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dedup.dedup_clusters(docs).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1]["cluster_id"] == 1 and got[2]["cluster_id"] == 1
    assert got[3]["cluster_id"] == 3 and got[4]["cluster_id"] == 3
    assert got[3]["is_representative"] and not got[4]["is_representative"]
    assert got[5]["cluster_id"] == 5 and got[5]["is_representative"]


def test_exact_collapse_null_text_membership(spark):
    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, "nan")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["rep_id"] for r in dedup.exact_collapse(docs).collect()}
    assert rows == {1: 1, 2: 1, 3: 3, 4: 3}


def test_blocking_prefix_len_sizing():
    # floor holds through small corpora (test SFs land here)
    assert dedup.blocking_prefix_len(1) == 3
    assert dedup.blocking_prefix_len(16) == 3
    assert dedup.blocking_prefix_len(500) == 3
    assert dedup.blocking_prefix_len(16 * 16**3) == 3
    # grows one hex char per 16x corpus beyond the floor
    assert dedup.blocking_prefix_len(16 * 16**4) == 4
    assert dedup.blocking_prefix_len(16 * 16**6) == 6
    assert dedup.blocking_prefix_len(10**12) == 9  # ~15 docs/block
    # monotone non-decreasing
    vals = [dedup.blocking_prefix_len(n) for n in (10, 10**3, 10**6, 10**9, 10**12)]
    assert vals == sorted(vals)


def test_driver_union_find_matches_distributed_loop(spark, sf_small):
    """The bimodal small-graph path must be bit-identical to the
    large-star/small-star loop — same components, same min labels —
    on the real blocked candidate graph AND on an adversarial chain
    (worst case for per-hop propagation)."""
    from b2b_data_pipeline_indiamart_spark import catalog
    from b2b_data_pipeline_indiamart_spark.operators import caching

    docs = catalog.load(spark, sf_small, "documents")
    fast = sorted(
        map(
            tuple,
            dedup.blocked_dedup_clusters(docs, small_graph_cap=1_000_000).collect(),
        )
    )
    caching.release_cached()
    loop = sorted(map(tuple, dedup.blocked_dedup_clusters(docs).collect()))
    caching.release_cached()
    assert fast == loop

    # chain 0-1-2-...-30 collapses to cluster 0 either way
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["id_a", "id_b"]
    )
    f = sorted(
        map(
            tuple,
            dedup.connected_components(chain, small_graph_cap=10_000).collect(),
        )
    )
    caching.release_cached()
    l = sorted(map(tuple, dedup.connected_components(chain).collect()))
    caching.release_cached()
    assert f == l
    assert all(c == 0 for _, c in f)


def test_driver_union_find_over_cap_falls_back_to_loop(spark):
    # cap below the edge count -> the distributed loop runs (observable
    # via the loop's localCheckpoint leaving no driver-path shortcut:
    # results still correct)
    from b2b_data_pipeline_indiamart_spark.operators import caching

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    out = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components(pairs, small_graph_cap=2).collect()
    }
    caching.release_cached()
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_driver_union_find_null_endpoints_match_loop(spark):
    # ids that fail the long cast become NULL; both CC paths must
    # agree: null-partnered node is a singleton, one (NULL, NULL) row
    from b2b_data_pipeline_indiamart_spark.operators import caching

    pairs = spark.createDataFrame([(5, None), (1, 2)], "id_a long, id_b long")
    fast = sorted(
        map(tuple, dedup.connected_components(pairs, small_graph_cap=100).collect()),
        key=str,
    )
    caching.release_cached()
    loop = sorted(map(tuple, dedup.connected_components(pairs).collect()), key=str)
    caching.release_cached()
    assert fast == loop
    assert (5, 5) in fast and (None, None) in fast


def test_blocked_dedup_clusters_full_expansion_and_flags(spark):
    """VERDICT r12 #3: the full-composition twin must run the SAME
    collapse → CC → expansion path as dedup_clusters. Exact copies
    always share every blocking key, so each copy group lands in one
    cluster; every cluster has exactly one representative and it is
    the cluster minimum."""
    from b2b_data_pipeline_indiamart_spark.operators import caching

    a = "the quick brown fox jumps over the lazy dog tonight"
    b = "completely different content about volcanic geology and ash"
    docs = spark.createDataFrame(
        [(1, a), (2, a), (3, "  " + a + "  "),  # normalize-equal copies
         (4, b), (5, b), (6, "a unique third text about fugues")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in
            dedup.blocked_dedup_clusters_full(docs).collect()}
    caching.release_cached()
    assert set(rows) == {1, 2, 3, 4, 5, 6}
    # exact-dup groups collapse into one cluster each
    assert rows[1]["cluster_id"] == rows[2]["cluster_id"] == rows[3]["cluster_id"]
    assert rows[4]["cluster_id"] == rows[5]["cluster_id"]
    # one representative per cluster, and it is the cluster minimum
    clusters = {}
    for did, r in rows.items():
        clusters.setdefault(r["cluster_id"], []).append(
            (did, r["is_representative"])
        )
    for cid, members in clusters.items():
        reps = [d for d, flag in members if flag]
        assert reps == [cid] == [min(d for d, _ in members)]
