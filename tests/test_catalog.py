"""``catalog.load`` infers a table's parquet schema once per version of
its file, and infers it afresh after the file is rewritten."""

from __future__ import annotations

import os

from b2b_data_pipeline_indiamart_spark import catalog


def _jobs_in_group(spark, group, run):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc._jsc.clearJobGroup()
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_two_loads_of_one_table_infer_its_schema_once(spark, tmp_path):
    sf = str(tmp_path)
    spark.createDataFrame([(0, "AFRICA")], "r_regionkey long, r_name string").write.parquet(
        os.path.join(sf, "region.parquet")
    )

    def load_twice():
        catalog.load(spark, sf, "region")
        catalog.load(spark, sf, "region")

    assert _jobs_in_group(spark, "catalog-load-twice", load_twice) == 1


def test_a_rewritten_table_is_read_with_its_new_schema(spark, tmp_path):
    sf = str(tmp_path)
    path = os.path.join(sf, "region.parquet")
    spark.createDataFrame([(0, "AFRICA")], "r_regionkey long, r_name string").write.parquet(path)
    assert catalog.load(spark, sf, "region").columns == ["r_regionkey", "r_name"]
    spark.createDataFrame(
        [(0, "AFRICA", "lar deposits")], "r_regionkey long, r_name string, r_comment string"
    ).write.mode("overwrite").parquet(path)
    again = catalog.load(spark, sf, "region")
    assert again.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [tuple(r) for r in again.collect()] == [(0, "AFRICA", "lar deposits")]
