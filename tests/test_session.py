"""The session's host-sized defaults and its scan fan-out rule."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from b2b_data_pipeline_indiamart_spark import catalog, session
from b2b_data_pipeline_indiamart_spark.operators import similarity


def _mb(spec: str) -> int:
    assert spec.endswith("m")
    return int(spec[:-1])


def test_default_driver_memory_fits_host_and_caps_at_16g(monkeypatch):
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    got = _mb(session.default_driver_memory())
    assert 0 < got <= ram_mb and got <= 16 * 1024

    page = 4096
    for ram_gb, want_mb in ((15.7, int(15.7 * 1024) // 2), (64, 16 * 1024), (1024, 16 * 1024)):
        pages = int(ram_gb * 2**30) // page
        fake = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}
        monkeypatch.setattr(session.os, "sysconf", fake.__getitem__)
        assert _mb(session.default_driver_memory()) == want_mb


def test_default_cpus_is_the_affinity_count(monkeypatch):
    assert session.default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.default_cpus() == "3"


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("case", ["one_partition", "wide_enough", "brute_force_topk"])
def test_fan_out_hashes_only_under_parallelized_frames(spark, sf_small, case):
    target = spark.sparkContext.defaultParallelism
    if case == "brute_force_topk":
        emb = catalog.load(spark, sf_small, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        plan = _executed(similarity.brute_force_topk(emb, queries, k=10))
        assert "RoundRobinPartitioning" not in plan
        assert "hashpartitioning(vec_id" in plan
        return
    df = spark.range(0, 64, numPartitions=1 if case == "one_partition" else target)
    out = session.fan_out(df, "id")
    if case == "wide_enough":
        assert out is df
    else:
        assert out.rdd.getNumPartitions() == target
        assert "hashpartitioning(id" in _executed(out)
