from __future__ import annotations

import json
import sqlite3

import pytest

from pyspark.sql import functions as F

from b2b_data_pipeline_indiamart_spark.sources import (
    load_manifest,
    read_csv_normalized,
    resumable_ingest,
    save_manifest,
    to_snake_case,
    write_csv,
    write_parquet,
    write_sqlite,
)


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("Product Name", "product_name"),
        ("  Price (INR)  ", "price_inr"),
        ("supplier-name", "suppliername"),
        ("Rating %", "rating_"),
        ("﻿Search Keyword", "search_keyword"),
        ("ALREADY_SNAKE", "already_snake"),
    ],
)
def test_to_snake_case(raw, expected):
    assert to_snake_case(raw) == expected


def test_read_csv_normalized_headers_and_backfill(spark, tmp_path):
    p = tmp_path / "raw.csv"
    p.write_text(
        "Product Name,Price (INR),Supplier Name\n"
        "Widget,1200,Acme\n"
        "Gadget,900,Globex\n",
        encoding="utf-8-sig",
    )
    df = read_csv_normalized(spark, str(p))
    assert df.columns == ["product_name", "price_inr", "supplier_name", "scraped_at"]
    rows = df.collect()
    assert len(rows) == 2
    # backfilled scraped_at is the file mtime — non-empty ISO string
    assert all(r["scraped_at"] for r in rows)


def test_read_csv_keeps_existing_scraped_at(spark, tmp_path):
    p = tmp_path / "raw.csv"
    p.write_text(
        "Product Name,Scraped At\nWidget,2026-01-01T00:00:00+00:00\nGadget,\n"
    )
    df = read_csv_normalized(spark, str(p))
    vals = {r["product_name"]: r["scraped_at"] for r in df.collect()}
    assert vals["Widget"].startswith("2026-01-01")
    assert vals["Gadget"]  # null filled with mtime fallback


def _write_batch(path, rows):
    path.write_text("id,name\n" + "\n".join(f"{i},{n}" for i, n in rows) + "\n")


def test_resumable_ingest_skips_completed_and_dedups(spark, tmp_path):
    f1, f2 = tmp_path / "b1.csv", tmp_path / "b2.csv"
    _write_batch(f1, [(1, "a"), (2, "b")])
    _write_batch(f2, [(2, "b2"), (3, "c")])  # id=2 is a cross-file dup
    out = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest.json")

    done = resumable_ingest(
        spark, [str(f1)], out, manifest, key_cols=["id"]
    )
    assert done == [str(f1)]
    # second call: f1 skipped (manifest), f2 ingested with id=2 dropped
    done = resumable_ingest(
        spark, [str(f1), str(f2)], out, manifest, key_cols=["id"]
    )
    assert done == [str(f2)]
    result = spark.read.parquet(out)
    assert sorted(r["id"] for r in result.collect()) == [1, 2, 3]
    m = load_manifest(manifest)
    assert set(m["completed_files"]) == {str(f1), str(f2)}
    # idempotent: nothing left to do
    assert resumable_ingest(spark, [str(f1), str(f2)], out, manifest) == []


def test_resumable_ingest_crash_retry_no_dupes_without_keys(spark, tmp_path):
    # Crash window: data committed but manifest not yet saved. A retry
    # must replace that file's output, not append a second copy — even
    # with no key_cols to dedup on.
    f1, f2 = tmp_path / "b1.csv", tmp_path / "b2.csv"
    _write_batch(f1, [(1, "a"), (2, "b")])
    _write_batch(f2, [(3, "c")])
    out = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest.json")

    resumable_ingest(spark, [str(f1), str(f2)], out, manifest)
    assert spark.read.parquet(out).count() == 3
    # simulate the crash: roll the manifest back as if f2's save never ran
    save_manifest(manifest, [str(f1)])
    assert resumable_ingest(spark, [str(f1), str(f2)], out, manifest) == [str(f2)]
    assert sorted(r["id"] for r in spark.read.parquet(out).collect()) == [1, 2, 3]


def test_load_manifest_tolerates_garbage(tmp_path):
    p = tmp_path / "m.json"
    p.write_text("not json {{{")
    assert load_manifest(str(p)) == {"completed_files": [], "updated_at": None}
    p.write_text(json.dumps([1, 2]))
    assert load_manifest(str(p))["completed_files"] == []


def test_write_csv_na_rep(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, None)], ["id", "name"])
    out = tmp_path / "out_csv"
    write_csv(df, str(out), single_file=True)
    text = next(out.glob("part-*.csv")).read_text()
    assert "NaN" in text  # etl.py:429 na_rep parity


def test_write_parquet_partitioned(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y"), (3, "x")], ["id", "grp"])
    out = tmp_path / "out_pq"
    write_parquet(df, str(out), partition_by=["grp"])
    assert (out / "grp=x").exists() and (out / "grp=y").exists()
    assert spark.read.parquet(str(out)).count() == 3


def test_bucketed_join_avoids_exchange(spark, sf_small, tmp_path):
    """Two tables bucketed on the join key must sort-merge join with NO
    exchange on either side — the write-once-join-many layout."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from b2b_data_pipeline_indiamart_spark import catalog
    from b2b_data_pipeline_indiamart_spark.sources import write_bucketed

    li = catalog.load(spark, sf_small, "lineitem").select("l_orderkey", "l_quantity")
    orders = catalog.load(spark, sf_small, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "bkt_li", 4, ["l_orderkey"], sort_cols=["l_orderkey"],
                   path=str(tmp_path / "bkt_li"))
    write_bucketed(orders, "bkt_orders", 4, ["o_orderkey"], sort_cols=["o_orderkey"],
                   path=str(tmp_path / "bkt_orders"))
    # at test sizes the planner would broadcast (making bucketing moot);
    # disable it to reproduce the at-scale fact⋈fact condition
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_li").join(
            spark.table("bkt_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan  # co-located: bucket layout IS the partitioning
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_li")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_csv_sink_source_roundtrip(spark, tmp_path):
    """Our CSV sink must be readable by our CSV source with values and
    nulls intact — the reference's clean_data.csv → downstream flow."""
    df = spark.createDataFrame(
        [("Widget", 78000.0, "Piece"), ("Gadget", None, None)],
        ["product_name", "price_numeric", "price_unit"],
    )
    out = tmp_path / "clean_csvdir"
    write_csv(df, str(out), single_file=True)
    back = read_csv_normalized(spark, str(out))
    rows = {r["product_name"]: r for r in back.collect()}
    assert rows["Widget"]["price_numeric"] == 78000.0
    assert rows["Widget"]["price_unit"] == "Piece"
    # "NaN" na_rep reads back as NULL for doubles, "NaN" string for text
    assert rows["Gadget"]["price_numeric"] is None or str(rows["Gadget"]["price_numeric"]) == "nan"


def test_write_sqlite_replace_and_append(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, None)], ["id", "name"])
    db = str(tmp_path / "out.db")
    assert write_sqlite(df, db, "products") == 2
    assert write_sqlite(df, db, "products", if_exists="replace") == 2
    assert write_sqlite(df, db, "products", if_exists="append") == 2
    con = sqlite3.connect(db)
    n, nulls = con.execute(
        "SELECT COUNT(*), SUM(name IS NULL) FROM products"
    ).fetchone()
    con.close()
    assert n == 4 and nulls == 2
    with pytest.raises(ValueError):
        write_sqlite(df, db, "products", if_exists="fail")


def test_write_csv_utf8_sig_bom(spark, tmp_path):
    # etl.py:429 writes the curated CSV utf-8-sig for Excel; each part
    # file must start with the BOM and read back cleanly as utf-8-sig
    df = spark.createDataFrame([(1, "Delhi"), (2, "Pune")], ["id", "city"])
    out = tmp_path / "out_bom"
    write_csv(df, str(out), single_file=True, encoding="utf-8-sig")
    part = next(out.glob("part-*.csv"))
    assert part.read_bytes().startswith(b"\xef\xbb\xbf")
    text = part.read_text(encoding="utf-8-sig")
    assert text.splitlines()[0] == "id,city" and not text.startswith("﻿")


def test_write_jdbc_option_plumbing_and_missing_driver(spark, tmp_path):
    """No JDBC driver jar ships in this container; the wrapper must
    still build the right writer config and surface the driver-loading
    failure (not silently no-op)."""
    import pytest

    from b2b_data_pipeline_indiamart_spark.sources import write_jdbc

    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    with pytest.raises(Exception) as exc:
        write_jdbc(
            df,
            f"jdbc:sqlite:{tmp_path}/x.db",
            "t",
            num_partitions=2,
            options={"isolationLevel": "NONE"},
        )
    assert "driver" in str(exc.value).lower()


def test_load_events_pins_utc_session_timezone(spark, sf_small):
    """ADVICE r4: the NTZ→timestamp cast and every downstream epoch/
    bucket function interpret wall clocks in the SESSION timezone; on a
    non-UTC host session the epochs would shift by the UTC offset and
    diverge from DuckDB's naive (UTC) reading. _load_events must pin
    UTC so the conversion is host-independent."""
    from pyspark.sql import functions as F

    from b2b_data_pipeline_indiamart_spark import catalog

    key = "spark.sql.session.timeZone"
    original = spark.conf.get(key)
    try:
        spark.conf.set(key, "Asia/Kolkata")  # +05:30: catches sign AND half-hour bugs
        ev = catalog.load(spark, sf_small, "events")
        assert spark.conf.get(key) == "UTC"
        skewed = ev.agg(F.min(F.unix_micros("ts")).alias("m")).collect()[0]["m"]
        spark.conf.set(key, "UTC")
        utc = (
            catalog.load(spark, sf_small, "events")
            .agg(F.min(F.unix_micros("ts")).alias("m"))
            .collect()[0]["m"]
        )
        assert skewed == utc
    finally:
        spark.conf.set(key, original)


# ---------------------------------------------------------------------------
# round-5: JSONL + binaryFile ingestion
# ---------------------------------------------------------------------------


def test_jsonl_reads_with_stated_schema_and_drops_corrupt(spark, tmp_path):
    from b2b_data_pipeline_indiamart_spark.sources.jsonl_source import (
        read_jsonl_documents,
    )

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web", "n_chars": 11}\n'
        '{"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "web", "n_chars": 7}\n'
        "this line is not json at all\n"
        '{"doc_id": 3, "text": "ok", "lang": "en", "source": "web", "n_chars": 2}\n'
    )
    df = read_jsonl_documents(spark, str(p))
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "text", "lang", "source", "n_chars",
    ]
    rows = {r["doc_id"]: r["text"] for r in df.collect()}
    assert rows == {1: "hello world", 2: "bonjour", 3: "ok"}
    # Spark disallows queries referencing ONLY _corrupt_record from a
    # raw JSON scan (SPARK-21610); cache first, as the reader documents
    full = read_jsonl_documents(spark, str(p), keep_corrupt=True).cache()
    try:
        assert full.filter("_corrupt_record IS NOT NULL").count() == 1
    finally:
        full.unpersist()


def test_binary_documents_roundtrip_decodes_headers(spark, tmp_path):
    from b2b_data_pipeline_indiamart_spark.operators.multimodal import (
        parse_image_header,
    )
    from b2b_data_pipeline_indiamart_spark.sources.jsonl_source import (
        read_binary_documents,
    )

    # a 5x7 PNG header + body, and a GIF with LE16 dims 9x4
    png = (
        bytes.fromhex("89504e470d0a1a0a0000000d49484452")
        + (5).to_bytes(4, "big")
        + (7).to_bytes(4, "big")
        + bytes.fromhex("0806000000")
        + b"payload-bytes"
    )
    gif = bytes.fromhex("474946383961") + (9).to_bytes(2, "little") + (4).to_bytes(
        2, "little"
    ) + b"x"
    (tmp_path / "a.png").write_bytes(png)
    (tmp_path / "b.gif").write_bytes(gif)
    (tmp_path / "notes.txt").write_text("not media")

    media = read_binary_documents(spark, str(tmp_path), glob="*.{png,gif}")
    rows = {r["kind"]: r for r in media.collect()}
    assert set(rows) == {"png", "gif"}  # txt pruned at listing time
    assert rows["png"]["n_bytes"] == len(png)
    assert parse_image_header(rows["png"]["payload"]) == ("png", 5, 7)
    assert parse_image_header(rows["gif"]["payload"]) == ("gif", 9, 4)
    # ids are stable across re-reads (path-hash, not row order)
    again = {r["kind"]: r["doc_id"] for r in read_binary_documents(
        spark, str(tmp_path), glob="*.{png,gif}").collect()}
    assert {k: rows[k]["doc_id"] for k in rows} == again


def test_upsert_partitions_replaces_only_touched_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from b2b_data_pipeline_indiamart_spark.sources.sinks import (
        upsert_partitions,
        write_parquet,
    )

    path = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [("2026-01-01", 1, 10.0), ("2026-01-01", 2, 20.0), ("2026-01-02", 3, 30.0)],
        ["day", "id", "v"],
    )
    write_parquet(base, path, partition_by=["day"])

    # correction for day 1 only: one row instead of two
    fix = spark.createDataFrame([("2026-01-01", 9, 99.0)], ["day", "id", "v"])
    upsert_partitions(fix, path, ["day"])

    got = sorted(
        map(
            tuple,
            spark.read.parquet(path)
            .select(F.col("day").cast("string"), "id", "v")
            .collect(),
        )
    )
    # day 2 untouched, day 1 fully replaced by the correction
    assert got == [("2026-01-01", 9, 99.0), ("2026-01-02", 3, 30.0)]
    # the conf was restored (static default back in force)
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper() == "STATIC"
    )


def test_orc_roundtrip_and_pushdown(spark, sf_small, tmp_path):
    from b2b_data_pipeline_indiamart_spark import catalog
    from b2b_data_pipeline_indiamart_spark.sources import read_orc, write_orc

    orders = catalog.load(spark, sf_small, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path)
    back = read_orc(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, orders.collect()))
    # filter + projection reach the ORC scan, exactly as for parquet
    plan = (
        back.filter(F.col("o_orderkey") == 7)
        .select("o_orderkey", "o_totalprice")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,7)" in plan
    assert "o_orderstatus" not in plan.split("ReadSchema")[1][:200]


def test_orc_partitioned_write_prunes(spark, sf_small, tmp_path):
    from b2b_data_pipeline_indiamart_spark import catalog
    from b2b_data_pipeline_indiamart_spark.sources import read_orc, write_orc

    orders = catalog.load(spark, sf_small, "orders")
    path = str(tmp_path / "orders_orc_part")
    write_orc(orders, path, partition_by=["o_orderstatus"])
    back = read_orc(spark, path).filter(F.col("o_orderstatus") == "F")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan
    ref = orders.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == ref


def test_text_documents_per_file_and_per_line(spark, tmp_path):
    from b2b_data_pipeline_indiamart_spark.sources import read_text_documents

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("first line\nsecond line\n")
    (d / "b.txt").write_text("only line")

    per_file = read_text_documents(spark, str(d)).collect()
    assert len(per_file) == 2
    texts = {r["source"].rsplit("/", 1)[-1]: r["text"] for r in per_file}
    assert texts["a.txt"] == "first line\nsecond line\n"
    assert texts["b.txt"] == "only line"

    per_line = read_text_documents(spark, str(d), per_line=True)
    rows = {
        (r["source"].rsplit("/", 1)[-1], r["line_no"]): (r["doc_id"], r["text"])
        for r in per_line.collect()
    }
    # trailing newline yields a final empty line — documented split
    assert rows[("a.txt", 0)][1] == "first line"
    assert rows[("a.txt", 1)][1] == "second line"
    assert rows[("b.txt", 0)][1] == "only line"
    # ids are deterministic across re-reads and repartitioning
    again = {
        (r["source"].rsplit("/", 1)[-1], r["line_no"]): r["doc_id"]
        for r in read_text_documents(spark, str(d), per_line=True)
        .repartition(7)
        .collect()
    }
    assert {k: v[0] for k, v in rows.items()} == again
    # and unique across the corpus
    ids = [v[0] for v in rows.values()]
    assert len(ids) == len(set(ids))


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Schema evolution on a plain parquet lake: a column added by a
    later writer is visible with mergeSchema=true (older files read
    NULL), and the default cheap read keeps the footer-sampled schema.
    The contract incremental ingestion leans on when producers add
    fields."""
    p = str(tmp_path / "lake")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        p + "/part=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(p + "/part=2")
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "name", "score", "part"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}


def test_ignore_corrupt_files_quarantines_bad_parquet(spark, tmp_path):
    """Operational guard for dirty lakes: with ignoreCorruptFiles the
    scan survives a garbage file and returns the healthy rows; the
    default strict mode fails loudly. Both behaviors pinned."""
    p = tmp_path / "lake"
    spark.createDataFrame([(i,) for i in range(5)], "id long").coalesce(
        1
    ).write.parquet(str(p))
    (p / "garbage.parquet").write_bytes(b"this is not a parquet file")
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError  # noqa: F401

    with _pytest.raises(Exception):
        # strict mode fails already at footer inference
        spark.read.parquet(str(p)).count()
    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        # schema stated explicitly: inference may sample the corrupt
        # file and give up even in tolerant mode — the same reason the
        # JSONL reader requires a stated schema
        assert spark.read.schema("id long").parquet(str(p)).count() == 5
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)


def test_text_documents_per_line_strips_crlf(spark, tmp_path):
    """CRLF corpora: per_line splitting must match Spark's own line
    reader (\r\n stripped). Regression: a bare-\n split left every
    line with an invisible trailing \r, silently desyncing dedup
    hashes from the same corpus read via spark.read.text."""
    from b2b_data_pipeline_indiamart_spark.sources import read_text_documents

    f = tmp_path / "win.txt"
    f.write_bytes(b"first line\r\nsecond line\r\nthird")
    rows = (
        read_text_documents(spark, str(tmp_path), per_line=True)
        .orderBy("line_no")
        .collect()
    )
    assert [r["text"] for r in rows] == ["first line", "second line", "third"]
    native = [
        r["value"] for r in spark.read.text(str(f)).collect()
    ]
    assert sorted(r["text"] for r in rows) == sorted(native)


def test_write_clustered_tightens_rowgroup_stats(spark, tmp_path):
    """Z-order layout contract, measured on the actual parquet
    metadata: after write_clustered on (x, y), each output file's
    min-max span on BOTH columns is a small fraction of the global
    span (readers filtering on either column skip most files), while
    a hash-layout write leaves per-file spans ~ the full range. Also
    pins that clustering is layout-only: the row multiset survives."""
    import pyarrow.parquet as pq

    from b2b_data_pipeline_indiamart_spark.sources.sinks import write_clustered

    n = 4096
    df = spark.range(n).selectExpr(
        "id",
        # two independent uniform dims (distinct primes keep them
        # uncorrelated so clustering must genuinely interleave)
        "CAST(id * 2654435761 % 4096 AS LONG) AS x",
        "CAST(id * 40503 % 4096 AS LONG) AS y",
    )
    clustered = str(tmp_path / "clustered")
    plain = str(tmp_path / "plain")
    write_clustered(df, clustered, ["x", "y"], target_files=16)
    df.repartition(16).write.parquet(plain)

    def avg_span(path, col):
        import glob as g

        spans = []
        for f in g.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        lo = c.statistics.min if lo is None else min(lo, c.statistics.min)
                        hi = c.statistics.max if hi is None else max(hi, c.statistics.max)
            if lo is not None:
                spans.append(hi - lo)
        assert spans
        return sum(spans) / len(spans)

    for col in ("x", "y"):
        tight = avg_span(clustered, col)
        loose = avg_span(plain, col)
        # 16 files over a 2-D z-curve: each covers ~1/4 of each axis;
        # give slack for boundary files
        assert tight < 0.5 * loose, (col, tight, loose)
        assert loose > 0.9 * 4095  # hash layout: every file ~full range
    a = sorted(tuple(r) for r in spark.read.parquet(clustered).collect())
    b = sorted(tuple(r) for r in df.collect())
    assert a == b


def test_write_clustered_dates_and_width_guards(spark, tmp_path):
    """Review fixes pinned: (1) date/timestamp cluster columns work
    (scaled via days/micros, not float(date) which crashed); (2) the
    per-column bit width shrinks with column count so no interleaved
    bit position ever wraps past bit 63 (Spark shiftleft masks mod 64
    — an unguarded 5x16-bit interleave silently corrupted the order);
    (3) unorderable types and too-many-columns fail loudly."""
    import pytest as _pytest

    from b2b_data_pipeline_indiamart_spark.sources.sinks import write_clustered

    df = spark.range(512).selectExpr(
        "id",
        "date_add(date'2026-01-01', CAST(id % 365 AS INT)) AS d",
        "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS t",
        "CAST(id * 7 % 512 AS LONG) AS a",
        "CAST(id * 13 % 512 AS LONG) AS b",
        "CAST(id * 29 % 512 AS LONG) AS c",
    )
    out = str(tmp_path / "dated")
    write_clustered(df, out, ["d", "t", "a", "b", "c"], target_files=8)
    assert spark.read.parquet(out).count() == 512
    back = sorted(r["id"] for r in spark.read.parquet(out).select("id").collect())
    assert back == list(range(512))
    with _pytest.raises(ValueError, match="linear order"):
        write_clustered(
            df.selectExpr("id", "CAST(id AS STRING) AS s"),
            str(tmp_path / "x"),
            ["s"],
        )
    wide = df.selectExpr(*[f"id * {i} AS c{i}" for i in range(16)])
    with _pytest.raises(ValueError, match="too coarse"):
        write_clustered(wide, str(tmp_path / "y"), [f"c{i}" for i in range(16)])


def test_text_documents_per_line_matches_native_on_lone_cr(spark, tmp_path):
    """Classic-Mac lone-\r line breaks: Hadoop's LineRecordReader
    terminates lines on \r\n, lone \r, AND \n — the per_line split
    must agree on all three (the \r?\n fix still merged lone-\r
    lines)."""
    from b2b_data_pipeline_indiamart_spark.sources import read_text_documents

    f = tmp_path / "mac.txt"
    f.write_bytes(b"alpha\rbeta\r\ngamma\ndelta")
    got = sorted(
        r["text"]
        for r in read_text_documents(spark, str(tmp_path), per_line=True).collect()
    )
    native = sorted(r["value"] for r in spark.read.text(str(f)).collect())
    assert got == native == ["alpha", "beta", "delta", "gamma"]


def test_compact_parquet_reduces_files_and_preserves_rows(spark, tmp_path):
    import glob as g

    from b2b_data_pipeline_indiamart_spark.sources.sinks import compact_parquet

    p = str(tmp_path / "lake")
    # 64 shards of a small frame = classic streaming-sink fragmentation
    spark.range(2048).selectExpr("id", "id * 2 AS v").repartition(64).write.parquet(p)
    before = len(g.glob(p + "/*.parquet"))
    assert before >= 32
    rows_before = sorted(tuple(r) for r in spark.read.parquet(p).collect())
    n = compact_parquet(spark, p, target_file_bytes=1 << 30)
    after = len(g.glob(p + "/*.parquet"))
    assert n == 1 and after == 1
    assert not (tmp_path / "lake_compacting").exists()
    rows_after = sorted(tuple(r) for r in spark.read.parquet(p).collect())
    assert rows_after == rows_before
    # idempotent: compacting a compact lake is a no-op rewrite
    assert compact_parquet(spark, p, target_file_bytes=1 << 30) == 1


# ----------------------------------------- lake-maintenance crash injection


def test_compact_parquet_crash_injection_every_swap_state(spark, tmp_path):
    """VERDICT r12 #6: kill the compactor at each point of the
    park-aside swap sequence and re-run — every crash state recovers
    with zero row loss and no double-count. States injected on disk
    exactly as the documented sequence would leave them:
    (1) died mid-tmp-write (stale partial _compacting next to src);
    (2) died between rename(src→aside) and rename(tmp→src) — src
        missing, COMPLETE copies at both _compacting and _pre_compact;
    (3) died after rename(tmp→src), before delete(aside) — new src
        plus a superseded _pre_compact;
    (4) src missing, only the COMPLETE _compacting copy left —
        recovery renames it in."""
    import os
    import shutil

    from b2b_data_pipeline_indiamart_spark.sources.sinks import (
        compact_parquet,
    )

    lake = str(tmp_path / "lake")
    spark.range(512).selectExpr("id", "id * 3 AS v").repartition(
        16
    ).write.parquet(lake)
    want = sorted(tuple(r) for r in spark.read.parquet(lake).collect())

    def rows():
        return sorted(tuple(r) for r in spark.read.parquet(lake).collect())

    # (1) stale partial tmp from a crashed write: one orphan file that
    # is not even valid parquet — the re-run's overwrite must replace it
    os.makedirs(lake + "_compacting", exist_ok=True)
    with open(lake + "_compacting/part-00000.snappy.parquet", "wb") as f:
        f.write(b"\x00garbage, not parquet\x00")
    assert compact_parquet(spark, lake, target_file_bytes=1 << 30) == 1
    assert rows() == want
    assert not os.path.exists(lake + "_compacting")
    assert not os.path.exists(lake + "_pre_compact")

    # (2) died between the two renames: src gone; tmp holds the fully
    # written NEW copy, aside holds the OLD copy
    spark.range(512).selectExpr("id", "id * 3 AS v").coalesce(
        1
    ).write.parquet(lake + "_compacting")
    os.rename(lake, lake + "_pre_compact")
    assert not os.path.exists(lake)
    assert compact_parquet(spark, lake, target_file_bytes=1 << 30) == 1
    assert rows() == want
    assert not os.path.exists(lake + "_compacting")
    assert not os.path.exists(lake + "_pre_compact")

    # (3) died before delete(aside): src is the new copy, aside the
    # superseded old one — re-run must drop aside, never resurrect it
    shutil.copytree(lake, lake + "_pre_compact")
    assert compact_parquet(spark, lake, target_file_bytes=1 << 30) == 1
    assert rows() == want
    assert not os.path.exists(lake + "_pre_compact")

    # (4) src gone, no aside: the fully written tmp is the only copy —
    # without recovery the re-run would fail "does not exist"
    os.rename(lake, lake + "_compacting")
    assert not os.path.exists(lake)
    assert compact_parquet(spark, lake, target_file_bytes=1 << 30) == 1
    assert rows() == want
    assert not os.path.exists(lake + "_compacting")
    assert not os.path.exists(lake + "_pre_compact")


def test_upsert_partitions_crash_rerun_no_double_count(spark, tmp_path):
    """VERDICT r12 #6: a crashed dynamic-overwrite upsert leaves a
    stale _temporary tree; re-running the same batch must (a) ignore
    the orphan, (b) replace exactly its own partitions — same row
    count, no duplicates — and (c) leave other partitions untouched."""
    import os

    from b2b_data_pipeline_indiamart_spark.sources.sinks import (
        upsert_partitions,
    )

    path = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [(1, "d1", 10.0), (2, "d1", 20.0), (3, "d2", 30.0)],
        "id long, day string, v double",
    )
    base.write.partitionBy("day").parquet(path)

    fix = spark.createDataFrame(
        [(1, "d1", 11.0), (2, "d1", 21.0)], "id long, day string, v double"
    )
    # crash leftovers: an uncommitted _temporary tree from a dead job
    os.makedirs(path + "/_temporary/0/task_000", exist_ok=True)
    with open(path + "/_temporary/0/task_000/part-0.parquet", "wb") as f:
        f.write(b"dead")

    upsert_partitions(fix, path, ["day"])
    upsert_partitions(fix, path, ["day"])  # replayed epoch: idempotent
    got = sorted(
        (r["id"], r["day"], r["v"])
        for r in spark.read.parquet(path).collect()
    )
    assert got == [(1, "d1", 11.0), (2, "d1", 21.0), (3, "d2", 30.0)]
