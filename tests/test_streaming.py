from __future__ import annotations

import json

import pytest

from b2b_data_pipeline_indiamart_spark.streaming import (
    dedup_stream,
    read_event_stream,
    running_user_totals,
    start_memory_sink,
    start_parquet_ingest,
    streaming_session_aggregate,
    view_click_attribution,
    windowed_event_counts,
)


def _write_events(path, rows):
    with open(path, "w") as f:
        for ts, uid, etype, value in rows:
            f.write(
                json.dumps(
                    {"ts": ts, "user_id": uid, "event_type": etype, "value": value, "props": "{}"}
                )
                + "\n"
            )


BATCH1 = [
    ("2026-01-01T10:00:00", 1, "view", 1.0),
    ("2026-01-01T10:05:00", 1, "click", 2.0),
    ("2026-01-01T10:59:00", 2, "view", 3.0),
    ("2026-01-01T11:30:00", 2, "buy", 4.0),
]
BATCH2 = [
    ("2026-01-01T12:01:00", 1, "view", 5.0),
    ("2026-01-01T14:00:00", 3, "view", 6.0),  # advances watermark past 11:xx
]


def _drain(q):
    q.processAllAvailable()
    q.stop()


def test_windowed_counts_update_mode(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_events(src / "b1.json", BATCH1)
    sdf = windowed_event_counts(read_event_stream(spark, str(src)), window="1 hour")
    q = start_memory_sink(sdf, "win_counts", output_mode="update")
    _drain(q)
    rows = spark.sql(
        "SELECT window_start, event_type, n_events, sum_value FROM win_counts"
    ).collect()
    got = {(str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"]) for r in rows}
    assert got[("2026-01-01 10:00:00", "view")] == (2, 4.0)
    assert got[("2026-01-01 10:00:00", "click")] == (1, 2.0)
    assert got[("2026-01-01 11:00:00", "buy")] == (1, 4.0)


def test_session_window_merges_and_closes(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_events(src / "b1.json", BATCH1)
    _write_events(src / "b2.json", BATCH2)
    sdf = streaming_session_aggregate(
        read_event_stream(spark, str(src)), gap="30 minutes", watermark="1 minute"
    )
    # session-window aggregations stream in append mode: a session is
    # emitted once, when the watermark passes its end
    q = start_memory_sink(sdf, "sessions", output_mode="append")
    _drain(q)
    rows = spark.sql("SELECT * FROM sessions").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    # user 1: events at 10:00/10:05 merge into one session (gap 5m < 30m)
    u1 = [r for r in by_user[1] if str(r["session_start"]).startswith("2026-01-01 10")]
    assert any(r["n_events"] == 2 and r["session_value"] == 3.0 for r in u1)
    # user 2: 10:59 vs 11:30 is a 31-minute gap → separate sessions
    assert len(by_user[2]) == 2
    # user 3's 14:00 session is still open (nothing past the watermark closes it)
    assert 3 not in by_user


def test_running_user_totals_stateful(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_events(src / "b1.json", BATCH1)
    _write_events(src / "b2.json", BATCH2)
    sdf = running_user_totals(read_event_stream(spark, str(src), max_files_per_trigger=1))
    q = start_memory_sink(sdf, "totals", output_mode="update")
    _drain(q)
    # update mode re-emits per micro-batch; the last row per user wins
    rows = spark.sql("SELECT * FROM totals").collect()
    final = {}
    for r in rows:
        final[r["user_id"]] = (r["n_events"], r["total_value"])
    assert final[1] == (3, 8.0)
    assert final[2] == (2, 7.0)
    assert final[3] == (1, 6.0)


def test_view_click_attribution_stream_stream_join(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_events(
        src / "b1.json",
        [
            ("2026-01-01T10:00:00", 1, "view", 0.0),
            ("2026-01-01T10:20:00", 1, "click", 5.0),   # within 1h of the view
            ("2026-01-01T12:30:00", 1, "click", 7.0),   # > 1h after the view
            ("2026-01-01T10:30:00", 2, "click", 9.0),   # no preceding view
            ("2026-01-01T09:00:00", 3, "view", 0.0),
            ("2026-01-01T08:00:00", 3, "click", 1.0),   # click BEFORE view
        ],
    )
    sdf = view_click_attribution(read_event_stream(spark, str(src)), within="1 hour")
    q = start_memory_sink(sdf, "attrib", output_mode="append")
    _drain(q)
    rows = spark.sql("SELECT user_id, click_value FROM attrib").collect()
    assert [(r["user_id"], r["click_value"]) for r in rows] == [(1, 5.0)]


def test_dedup_stream_suppresses_resends(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    # same (user_id, event_type) re-sent within the watermark horizon
    _write_events(
        src / "b1.json",
        [
            ("2026-01-01T10:00:00", 1, "view", 1.0),
            ("2026-01-01T10:05:00", 1, "view", 99.0),   # duplicate key
            ("2026-01-01T10:06:00", 2, "view", 2.0),
            ("2026-01-01T10:07:00", 1, "click", 3.0),
        ],
    )
    sdf = dedup_stream(read_event_stream(spark, str(src)), watermark="30 minutes")
    q = start_memory_sink(sdf, "dedup_out", output_mode="append")
    _drain(q)
    rows = spark.sql("SELECT user_id, event_type FROM dedup_out").collect()
    got = sorted((r["user_id"], r["event_type"]) for r in rows)
    assert got == [(1, "click"), (1, "view"), (2, "view")]


def test_windowed_aggregation_state_survives_restart(spark, tmp_path):
    """Restarting a windowed aggregation from its checkpoint must
    restore the state store: a window partially filled before the stop
    gets the post-restart events merged in, not recounted from zero."""
    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        sdf = windowed_event_counts(
            read_event_stream(spark, str(src)), window="1 hour", watermark="1 minute"
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        _drain(q)

    # phase 1: three 10:xx events close (watermark passes 11:00 via the
    # 12:00 event); the 12:00 window stays OPEN in state with count 1
    _write_events(
        src / "b1.json",
        [
            ("2026-01-01T10:00:00", 1, "view", 1.0),
            ("2026-01-01T10:10:00", 2, "view", 2.0),
            ("2026-01-01T10:20:00", 1, "view", 3.0),
            ("2026-01-01T12:00:00", 1, "view", 10.0),
        ],
    )
    run_once()
    first = {
        (str(r["window_start"]), r["event_type"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    assert first[("2026-01-01 10:00:00", "view")] == 3
    assert ("2026-01-01 12:00:00", "view") not in first  # still open

    # phase 2: restart; two more 12:xx events must MERGE into the
    # restored window state before the 14:00 event closes it at 1+2=3
    _write_events(
        src / "b2.json",
        [
            ("2026-01-01T12:10:00", 2, "view", 20.0),
            ("2026-01-01T12:20:00", 3, "view", 30.0),
            ("2026-01-01T14:00:00", 1, "click", 1.0),
        ],
    )
    run_once()
    final = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert final[("2026-01-01 12:00:00", "view")] == (3, 60.0)


def test_parquet_ingest_checkpoint_resume(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_events(src / "b1.json", BATCH1)
    q = start_parquet_ingest(read_event_stream(spark, str(src)), out, ckpt)
    _drain(q)
    assert spark.read.parquet(out).count() == len(BATCH1)

    # restart with the SAME checkpoint: only the new file is ingested
    _write_events(src / "b2.json", BATCH2)
    q = start_parquet_ingest(read_event_stream(spark, str(src)), out, ckpt)
    _drain(q)
    df = spark.read.parquet(out)
    assert df.count() == len(BATCH1) + len(BATCH2)  # no duplicates from b1
    assert df.select("user_id").distinct().count() == 3


def test_stateful_sessionize_emits_on_close_and_timeout(spark, tmp_path):
    """Sessions close two ways: a gap inside a batch (emitted with that
    batch) and the watermark passing last+gap (event-time timeout).
    Closed sessions must match the batch sessionizer on the same data."""
    from b2b_data_pipeline_indiamart_spark.streaming import stateful_sessionize

    src = tmp_path / "in"
    src.mkdir()
    _write_events(src / "b1.json", BATCH1)
    _write_events(src / "b2.json", BATCH2)
    sdf = stateful_sessionize(
        read_event_stream(spark, str(src), max_files_per_trigger=1),
        gap_minutes=30,
        watermark="1 minute",
    )
    q = start_memory_sink(sdf, "stateful_sessions", output_mode="append")
    _drain(q)
    rows = spark.sql("SELECT * FROM stateful_sessions").collect()
    got = {
        (r["user_id"], str(r["session_start"])): (
            str(r["session_end"]),
            r["n_events"],
            r["session_value"],
        )
        for r in rows
    }
    # user 1: 10:00+10:05 closed by the 12:01 gap; 12:01 closed by timeout
    # (watermark 13:59 > 12:31) — both present exactly once
    assert got[(1, "2026-01-01 10:00:00")] == ("2026-01-01 10:05:00", 2, 3.0)
    assert got[(1, "2026-01-01 12:01:00")] == ("2026-01-01 12:01:00", 1, 5.0)
    # user 2: 31-minute gap split inside batch 1; second closed by timeout
    assert got[(2, "2026-01-01 10:59:00")] == ("2026-01-01 10:59:00", 1, 3.0)
    assert got[(2, "2026-01-01 11:30:00")] == ("2026-01-01 11:30:00", 1, 4.0)
    # user 3's 14:00 session can never close (nothing advances the
    # watermark past 14:30) — stays in state, not emitted
    assert not any(u == 3 for (u, _) in got)
    assert len(got) == 4


def test_streaming_decontaminate_stream_static_join(spark, tmp_path):
    """Stream-static probe: flags on the stream match the batch
    operator on the same docs."""
    import json as _json

    from b2b_data_pipeline_indiamart_spark.operators.decontam import decontaminate
    from b2b_data_pipeline_indiamart_spark.streaming.jobs import (
        streaming_decontaminate,
    )
    from pyspark.sql import types as T

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    docs = [
        (1, "alpha beta gamma delta zeta"),
        (2, "zeta eta theta iota kappa"),
        (3, "x"),
    ]
    src = tmp_path / "docs_in"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for did, text in docs:
            f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    q = start_memory_sink(
        streaming_decontaminate(stream, bench, n=4), "decontam_stream",
        output_mode="append",
    )
    _drain(q)
    got = {
        r["doc_id"]: (r["shared_ngrams"], r["contaminated"])
        for r in spark.sql("SELECT * FROM decontam_stream").collect()
    }
    batch_docs = spark.createDataFrame(docs, ["doc_id", "text"])
    expected = {
        r["doc_id"]: (r["shared_ngrams"], r["contaminated"])
        for r in decontaminate(batch_docs, bench, n=4).collect()
    }
    assert got == expected and got[1][1] and not got[2][1]


def test_streaming_cms_matches_batch_cells(spark, tmp_path):
    """sketches.cms_cells applied to a stream plans as a streaming
    aggregation whose counter table equals the batch sketch over a
    replay of the same events — one hash expression serves both."""
    import json as _json

    from b2b_data_pipeline_indiamart_spark.operators.sketches import cms_cells
    from pyspark.sql import types as T

    events = [(i, i % 9) for i in range(200)]
    src = tmp_path / "cms_in"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for eid, uid in events:
            f.write(_json.dumps({"event_id": eid, "user_id": uid}) + "\n")
    schema = T.StructType(
        [T.StructField("event_id", T.LongType()), T.StructField("user_id", T.LongType())]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    q = start_memory_sink(
        cms_cells(stream, "user_id", depth=4, width=64),
        "cms_stream",
        output_mode="complete",
    )
    _drain(q)
    got = sorted(
        (r["row"], r["bucket"], r["cnt"])
        for r in spark.sql("SELECT * FROM cms_stream").collect()
    )
    batch = spark.createDataFrame(events, ["event_id", "user_id"])
    expected = sorted(
        (r["row"], r["bucket"], r["cnt"])
        for r in cms_cells(batch, "user_id", depth=4, width=64).collect()
    )
    assert got == expected and len(got) <= 4 * 64
    assert sum(c for (_, _, c) in got) == 4 * 200


def test_ledger_commits_only_after_the_writer_succeeds(spark, tmp_path):
    """The ledger's failure path: a writer that raises must leave its
    epoch uncommitted (no ``epoch-<id>`` marker), so Spark's retry of
    that epoch runs the writer again and only then commits."""
    import os

    from b2b_data_pipeline_indiamart_spark.streaming.jobs import _ledgered

    ledger = str(tmp_path / "ledger")
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    marker = os.path.join(ledger, "epoch-3")

    def failing(batch_df, epoch_id):
        raise RuntimeError("sink down")

    with pytest.raises(RuntimeError, match="sink down"):
        _ledgered(ledger, failing)(batch, 3)
    assert not os.path.exists(marker)

    calls = []

    def writer(batch_df, epoch_id):
        calls.append((batch_df.count(), epoch_id))

    run = _ledgered(ledger, writer)
    run(batch, 3)
    assert calls == [(2, 3)] and os.path.exists(marker)
    run(batch, 3)  # replay of the committed epoch: writer skipped
    assert calls == [(2, 3)]


def test_streaming_quality_gate_equals_batch(spark, tmp_path):
    """textstats.quality_logit is a pure projection, so the batch
    operator runs on the live ingest stream as written: its streaming
    flags equal the batch operator's on the same rows."""
    from b2b_data_pipeline_indiamart_spark.operators.textstats import quality_logit
    from b2b_data_pipeline_indiamart_spark.sources.jsonl_source import (
        DOCUMENTS_SCHEMA,
    )

    src = tmp_path / "docs"
    src.mkdir()
    docs = [
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog " * 8,
         "lang": "en", "source": "s", "n_chars": 10},
        {"doc_id": 2, "text": "@@ 123 456 $$ 789 ##", "lang": "en",
         "source": "s", "n_chars": 10},
        {"doc_id": 3, "text": "a perfectly ordinary sentence with the and of it",
         "lang": "en", "source": "s", "n_chars": 10},
    ]
    with open(src / "d1.json", "w") as fh:
        for d in docs:
            fh.write(json.dumps(d) + "\n")

    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).json(str(src))
    out = str(tmp_path / "out")
    q = (
        quality_logit(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    _drain(q)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    batch = spark.read.schema(DOCUMENTS_SCHEMA).json(str(src))
    ref = sorted(map(tuple, quality_logit(batch).collect()))
    assert got == ref and len(got) == 3


def test_available_now_trigger_drains_backlog_and_stops(spark, tmp_path):
    """Trigger.AvailableNow: the batch-catchup mode — process every
    file already in the source (respecting maxFilesPerTrigger
    batching), then stop on its own. The operational shape for
    'catch the nightly backlog up, then exit' jobs that still keep
    streaming checkpoint semantics (a later run resumes from the
    offset log instead of reprocessing)."""
    src = tmp_path / "in"
    src.mkdir()
    _write_events(src / "b1.json", BATCH1)
    _write_events(src / "b2.json", BATCH2)
    out = str(tmp_path / "out")
    q = (
        read_event_stream(spark, str(src), max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(120)  # stops ITSELF once the backlog drains
    assert not q.isActive
    assert spark.read.parquet(out).count() == len(BATCH1) + len(BATCH2)
    # a restart with the same checkpoint sees nothing new and exits
    # without duplicating output
    q = (
        read_event_stream(spark, str(src), max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == len(BATCH1) + len(BATCH2)


def test_running_distinct_types_cross_batch(spark, tmp_path):
    """End-to-end streaming coverage for the distinct-type tracker.
    Two micro-batches drive the RETURNING-user path (user 1 adds no
    new type in batch 2 but re-emits; the state round-trip is where
    the double-wrap corruption class lived), and final counts must
    equal the batch reference."""
    from b2b_data_pipeline_indiamart_spark.streaming.jobs import (
        running_distinct_types,
    )

    src = tmp_path / "in"
    src.mkdir()
    _write_events(src / "b1.json", BATCH1)
    q = start_memory_sink(
        running_distinct_types(read_event_stream(spark, str(src))),
        "apws_types",
        output_mode="update",
    )
    q.processAllAvailable()
    _write_events(src / "b2.json", BATCH2)
    _drain(q)
    # memory sink in update mode appends one revision row per batch;
    # n_types is monotone per user, so max() is the final state
    by_user: dict = {}
    for r in spark.sql("select * from apws_types").collect():
        by_user.setdefault(r["user_id"], []).append(
            (r["n_types"], r["n_events"])
        )
    ref: dict = {}
    for ts, uid, etype, value in BATCH1 + BATCH2:
        ref.setdefault(uid, set()).add(etype)
    assert {u: max(v)[0] for u, v in by_user.items()} == {
        u: len(t) for u, t in ref.items()
    }
    # user 1 returned in batch 2 (1 event, no new type): the state
    # round-trip emitted a second revision with per-batch n_events
    assert (2, 1) in by_user[1] and len(by_user[1]) == 2


def test_session_window_stream_matches_batch_twin(spark, tmp_path):
    """Twin pin for the native session_window pair: every session the
    STREAMING aggregate emits (append mode — closed sessions only)
    must appear, with identical bounds and event count, in the BATCH
    operator sessionize_native run over the same rows. The streaming
    side can only lag (open sessions unemitted), never disagree."""
    from pyspark.sql import functions as F

    from b2b_data_pipeline_indiamart_spark.operators.temporal import (
        sessionize_native,
    )

    src = tmp_path / "in"
    src.mkdir()
    _write_events(src / "b1.json", BATCH1)
    _write_events(src / "b2.json", BATCH2)
    sdf = streaming_session_aggregate(
        read_event_stream(spark, str(src)), gap="30 minutes", watermark="1 minute"
    )
    q = start_memory_sink(sdf, "twin_sessions", output_mode="append")
    _drain(q)
    streamed = {
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
        for r in spark.sql(
            "SELECT user_id, unix_micros(session_start) AS start_us, "
            "unix_micros(session_end) AS end_us, n_events FROM twin_sessions"
        ).collect()
    }
    assert streamed, "watermark must have closed at least one session"
    batch_events = spark.createDataFrame(
        [(i, ts, uid, et, v, "{}") for i, (ts, uid, et, v) in
         enumerate(BATCH1 + BATCH2)],
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
        "event_type", "value", "props",
    )
    batch = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in sessionize_native(batch_events, gap="30 minutes").collect()
    }
    assert streamed <= batch


def test_watermark_drops_late_rows_and_reports_in_progress(spark, tmp_path):
    """Observability contract for watermarked aggregations: rows older
    than (max event time - watermark) are DROPPED, and the drop is
    visible in the query's progress metrics
    (stateOperators.numRowsDroppedByWatermark) — the counter an
    operator dashboard alerts on. Batch 1 advances the watermark far
    past 10:xx; batch 2 replays a 10:05 event, which must not change
    any aggregate."""
    from pyspark.sql import functions as F

    src = tmp_path / "in"
    src.mkdir()
    _write_events(src / "b1.json", BATCH1 + BATCH2)  # max ts 14:00
    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    sdf = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("ws"), "event_type", "n"
        )
    )
    q = start_memory_sink(sdf, "wm_drop", output_mode="update")
    q.processAllAvailable()
    before = {
        (str(r["ws"]), r["event_type"]): r["n"]
        for r in spark.sql("select * from wm_drop").collect()
    }
    # replay a long-past event: watermark is 13:50, event is 10:05
    _write_events(src / "b2.json", [("2026-01-01T10:05:00", 1, "view", 9.0)])
    q.processAllAvailable()
    after = {
        (str(r["ws"]), r["event_type"]): r["n"]
        for r in spark.sql("select * from wm_drop").collect()
    }
    dropped = sum(
        int(op["numRowsDroppedByWatermark"])
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    q.stop()
    assert after == before, "late row must not mutate closed windows"
    assert dropped >= 1, "the drop must surface in progress metrics"


def test_incremental_rollup_maintains_partitioned_table(spark, tmp_path):
    """The continuously-maintained rollup: after two microbatches the
    parquet table must equal the BATCH hourly rollup over all events —
    including an hour revised by the second batch — and be laid out as
    day= partitions (plain readers, no streaming awareness)."""
    import os

    from pyspark.sql import functions as F

    from b2b_data_pipeline_indiamart_spark.streaming import (
        start_incremental_rollup,
    )

    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "rollup")
    ck = str(tmp_path / "ck")
    _write_events(src / "b1.json", BATCH1)
    q = start_incremental_rollup(
        read_event_stream(spark, str(src), max_files_per_trigger=1), out, ck
    )
    q.processAllAvailable()
    # batch 2 exercises BOTH upsert paths: 12:01/14:00 open NEW hour
    # partitions (the untouched 10:xx/11:xx must survive the dynamic
    # overwrite) and the 11:45 event REVISES the already-written
    # 11:00 hour — it sits above the post-batch-1 watermark
    # (11:30 − 15 min = 11:15), so the aggregate must change and the
    # hour=11 partition must be rewritten, the operator's headline
    # claim. (An event at/below 11:15 would be silently dropped and
    # the test would assert nothing.)
    revise = [("2026-01-01T11:45:00", 2, "buy", 7.0)]
    _write_events(src / "b2.json", BATCH2 + revise)
    q.processAllAvailable()
    q.stop()
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    all_events = spark.createDataFrame(
        [(ts, uid, et, v) for ts, uid, et, v in BATCH1 + BATCH2 + revise],
        "ts_s string, user_id long, event_type string, value double",
    ).select(F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type", "value")
    want = {
        (str(r["ws"]), r["event_type"]): (r["n"], r["sv"])
        for r in all_events.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        ).agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sv")
        ).collect()
    }
    assert got == want
    days = {d for d in os.listdir(out) if d.startswith("day=")}
    assert days == {"day=2026-01-01"}
    hours = {h for h in os.listdir(out + "/day=2026-01-01")
             if h.startswith("hour=")}
    assert hours == {"hour=10", "hour=11", "hour=12", "hour=14"}


def test_streaming_batch_dedup_reconcile_on_replayed_window(spark, tmp_path):
    """Streaming↔batch dedup reconciliation (VERDICT r9 task 4): replay
    one tumbling window's worth of REAL events through the
    dropDuplicatesWithinWatermark stream and pin its kept-row set equal
    to the batch twin (temporal.dedup_within_window) on the same slice.

    The two agree exactly when (a) the replay covers one window, (b)
    the watermark delay exceeds the window span (no state eviction
    mid-replay), and (c) arrival order is event-time order per key —
    the backfill contract both docstrings state. The replay feeds two
    micro-batches: every key's FIRST (ts, event_id) row in batch 1
    (all keys distinct — no intra-batch arrival ambiguity), every
    collapsed duplicate in batch 2, so the stream's kept row is
    deterministic regardless of partition arrival order."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from b2b_data_pipeline_indiamart_spark import catalog
    from b2b_data_pipeline_indiamart_spark.operators import temporal

    window_sec = 86400
    events = catalog.load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    wid = F.floor(
        F.unix_millis(F.col("ts")) / F.lit(float(window_sec * 1000))
    ).cast("long")
    # the day with the most collapsed duplicates
    top = (
        events.groupBy(wid.alias("w"))
        .agg(
            (F.count(F.lit(1))
             - F.countDistinct("user_id", "event_type")).alias("dups")
        )
        .orderBy(F.col("dups").desc(), F.col("w").asc())
        .first()
    )
    assert top["dups"] >= 3, "fixture day must actually collapse keys"
    rows = (
        events.filter(wid == top["w"])
        .orderBy("ts", "event_id")
        .collect()
    )

    # batch truth on the same slice
    slice_df = spark.createDataFrame(rows, events.schema)
    batch = temporal.dedup_within_window(slice_df, window_sec=window_sec)
    batch_rows = batch.collect()
    assert len(batch_rows) == len(rows) - top["dups"]
    batch_kept = {
        (r["user_id"], r["event_type"], r["kept_event_id"])
        for r in batch_rows
    }

    # replay: first occurrence per key in micro-batch 1, dups in 2
    seen, firsts, dups = set(), [], []
    for r in rows:  # rows already in (ts, event_id) order
        k = (r["user_id"], r["event_type"])
        (dups if k in seen else firsts).append(r)
        seen.add(k)
    src = tmp_path / "replay"
    src.mkdir()

    def write_batch(name, batch_rows, mtime):
        p = src / name
        with open(p, "w") as f:
            for r in batch_rows:
                f.write(json.dumps({
                    "event_id": r["event_id"],
                    "ts": r["ts"].strftime("%Y-%m-%dT%H:%M:%S.%f"),
                    "user_id": r["user_id"],
                    "event_type": r["event_type"],
                    "value": r["value"],
                }) + "\n")
        os.utime(p, (mtime, mtime))

    write_batch("b1.json", firsts, 1_000_000_000)
    write_batch("b2.json", dups, 1_000_000_100)

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    sdf = dedup_stream(
        read_event_stream(
            spark, str(src), schema=schema, max_files_per_trigger=1
        ),
        watermark="48 hours",  # > window span: no eviction mid-replay
    )
    q = start_memory_sink(sdf, "dedup_reconcile", output_mode="append")
    _drain(q)
    stream_kept = {
        (r["user_id"], r["event_type"], r["event_id"])
        for r in spark.sql(
            "SELECT user_id, event_type, event_id FROM dedup_reconcile"
        ).collect()
    }
    assert stream_kept == batch_kept


def test_dedup_stream_readmits_after_watermark_eviction(spark, tmp_path):
    """The bounded-state half of dropDuplicatesWithinWatermark's
    contract: once the watermark passes a key's event time by more
    than the delay, its state is evicted and a LATER re-send of the
    same key is admitted again (a plain streaming dropDuplicates would
    suppress it forever — and grow state forever). Three micro-batches:
    (1) the key, (2) an unrelated event far in the future that drags
    the watermark past the key's horizon, (3) the key re-sent at a new
    event time — which must come through."""
    import os

    src = tmp_path / "in"
    src.mkdir()

    def write(name, rows, mtime):
        _write_events(src / name, rows)
        os.utime(src / name, (mtime, mtime))

    write("b1.json", [("2026-01-01T10:00:00", 1, "view", 1.0)], 1_000_000_000)
    # computes watermark 19:30 (takes effect NEXT batch), far past
    # 10:00 + 30min
    write("b2.json", [("2026-01-01T20:00:00", 9, "other", 0.0)], 1_000_000_100)
    # processed under watermark 19:30 -> (1, view)@10:00 state evicted
    write("b3.json", [("2026-01-01T20:30:00", 9, "other2", 0.0)], 1_000_000_200)
    write("b4.json", [("2026-01-01T21:00:00", 1, "view", 2.0)], 1_000_000_300)

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])
    sdf = dedup_stream(
        read_event_stream(spark, str(src), schema=schema,
                          max_files_per_trigger=1),
        watermark="30 minutes",
    )
    q = start_memory_sink(sdf, "dedup_evict", output_mode="append")
    _drain(q)
    rows = spark.sql(
        "SELECT user_id, event_type, value FROM dedup_evict"
    ).collect()
    got = sorted((r["user_id"], r["event_type"], r["value"]) for r in rows)
    # both (1, view) emissions survive: the second arrived after
    # eviction; the duplicate-within-horizon case is covered by
    # test_dedup_stream_suppresses_resends
    assert got == [(1, "view", 1.0), (1, "view", 2.0),
                   (9, "other", 0.0), (9, "other2", 0.0)]


@pytest.mark.slow
def test_streaming_neardup_suppression_across_batches(spark, tmp_path):
    """Streaming MinHash/LSH near-dup suppression: within-batch greedy
    keep-lowest-id, cross-batch suppression against the persistent
    admitted-signature store, exactly-once epoch layout."""
    import json as _json

    import os

    from b2b_data_pipeline_indiamart_spark.streaming.jobs import (
        start_neardup_suppress_sink,
    )
    from pyspark.sql import types as T

    base = ("the quick brown fox jumps over the lazy dog while the "
            "seventeen engineers benchmark a distributed minhash "
            "pipeline across many parquet partitions every night")
    mut1 = base.replace("night", "morning")
    mut2 = base.replace("seventeen", "nineteen")
    uniq1 = ("completely different content about volcanic geology and "
             "the slow crystallization of basalt columns under an "
             "ancient icelandic lava field during the long winter")
    uniq2 = ("yet another unrelated passage describing the harmonic "
             "structure of a baroque fugue and the voice leading rules "
             "its countersubject obeys through every modulation")

    src = tmp_path / "docs"
    src.mkdir()

    def write(name, rows, mtime):
        p = src / name
        with open(p, "w") as f:
            for did, text in rows:
                f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
        os.utime(p, (mtime, mtime))

    # b1: 1 and 2 are near-dups of each other (greedy keeps 1); 3 unique
    write("b1.json", [(1, base), (2, mut1), (3, uniq1)], 1_000_000_000)
    # b2: 10 near-dups the ADMITTED doc 1 (cross-batch suppress);
    #     11 unique -> admitted
    write("b2.json", [(10, mut2), (11, uniq2)], 1_000_000_100)
    # b3: 20 near-dups doc 11 (state grew in epoch 2) -> suppressed
    write("b3.json", [(20, uniq2.replace("baroque", "gothic"))],
          1_000_000_200)

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    sdf = read_event_stream(
        spark, str(src), schema=schema, max_files_per_trigger=1
    )
    out = str(tmp_path / "out")
    q = start_neardup_suppress_sink(
        sdf,
        out,
        str(tmp_path / "ckpt"),
        str(tmp_path / "state"),
        str(tmp_path / "ledger"),
        threshold=0.75,
    )
    _drain(q)
    admitted = sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    )
    assert admitted == [1, 3, 11]
    # the state store holds exactly the admitted signatures, and the
    # band index holds bands for exactly the same ids
    state_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "state" / "sigs"))
        .collect()
    )
    assert state_ids == [1, 3, 11]
    band_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "state" / "bands"))
        .select("doc_id").distinct().collect()
    )
    assert band_ids == [1, 3, 11]
    # 100 TB seam: the probe's state read is pruned by PARTITION
    # filters on both band_bucket (the probe's bucket set) and epoch
    # (in-flight replay exclusion) — assert they reach the scan, via
    # the same helper the sink's probe uses
    from b2b_data_pipeline_indiamart_spark.streaming import read_state_store

    id_field = T.StructField("doc_id", T.LongType())
    pruned = read_state_store(
        spark, str(tmp_path / "state"), "bands", id_field,
        exclude_epoch=2, parts=[3, 7],
    )
    phys = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in phys
    assert "band_bucket" in phys.split("PartitionFilters")[1].split("]")[0]
    assert "epoch" in phys.split("PartitionFilters")[1].split("]")[0]
    # and the pruned read sees only rows in the requested buckets
    got = pruned.select("band_hash").collect()
    assert all(r["band_hash"] % 64 in (3, 7) for r in got)
    # crash-after-mkdir robustness: a state dir that exists with NO
    # committed parquet must read as empty (explicit schema), not fail
    # schema inference and wedge every replay
    empty_state = tmp_path / "state_empty"
    (empty_state / "bands").mkdir(parents=True)
    (empty_state / "sigs").mkdir(parents=True)
    assert read_state_store(
        spark, str(empty_state), "bands", id_field, parts=[0]
    ).count() == 0
    assert read_state_store(
        spark, str(empty_state), "sigs", id_field
    ).count() == 0
    # epoch-grain layout + ledger markers exist for every epoch
    import glob

    assert sorted(os.path.basename(d) for d in glob.glob(f"{out}/epoch=*")) \
        == ["epoch=0", "epoch=1", "epoch=2"]
    assert len(glob.glob(str(tmp_path / "ledger" / "epoch-*"))) == 3


@pytest.mark.slow
def test_streaming_neardup_restart_under_load(spark, tmp_path):
    """VERDICT r11 #7: kill/restart the near-dup sink mid-stream and
    assert the band-bucketed state store gives exactly-once semantics
    across the restart — no previously-admitted doc is re-admitted as
    a near-duplicate's victim twin, and no fresh admission is lost."""
    import glob
    import json as _json
    import os

    from pyspark.sql import types as T

    from b2b_data_pipeline_indiamart_spark.streaming.jobs import (
        start_neardup_suppress_sink,
    )

    base = ("the quick brown fox jumps over the lazy dog while the "
            "seventeen engineers benchmark a distributed minhash "
            "pipeline across many parquet partitions every night")
    uniq = ("completely different content about volcanic geology and "
            "the slow crystallization of basalt columns under an "
            "ancient icelandic lava field during the long winter")
    fresh = ("yet another unrelated passage describing the harmonic "
             "structure of a baroque fugue and the voice leading rules "
             "its countersubject obeys through every modulation")

    src = tmp_path / "docs"
    src.mkdir()

    def write(name, rows, mtime):
        p = src / name
        with open(p, "w") as f:
            for did, text in rows:
                f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
        os.utime(p, (mtime, mtime))

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    dirs = dict(
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        state_dir=str(tmp_path / "state"),
        ledger_dir=str(tmp_path / "ledger"),
    )

    def run_sink():
        sdf = read_event_stream(
            spark, str(src), schema=schema, max_files_per_trigger=1
        )
        return start_neardup_suppress_sink(
            sdf, dirs["output_dir"], dirs["checkpoint_dir"],
            dirs["state_dir"], dirs["ledger_dir"], threshold=0.75,
        )

    # phase 1: two docs admitted, then the query is STOPPED (the
    # "kill" — stop() after processAllAvailable is a clean shutdown;
    # the restart path through the checkpoint is identical for a
    # crash, which the ledger/epoch overwrite tests cover)
    write("b1.json", [(1, base), (2, uniq)], 1_000_000_000)
    _drain(run_sink())
    out1 = sorted(
        r["doc_id"]
        for r in spark.read.parquet(dirs["output_dir"]).collect()
    )
    assert out1 == [1, 2]

    # load arrives WHILE the sink is down: near-dups of both admitted
    # docs plus one genuinely fresh doc
    write("b2.json", [(10, base.replace("night", "morning")),
                      (11, uniq.replace("winter", "summer")),
                      (12, fresh)], 1_000_000_100)

    # phase 2: restart against the same checkpoint + state store
    _drain(run_sink())
    admitted = sorted(
        r["doc_id"]
        for r in spark.read.parquet(dirs["output_dir"]).collect()
    )
    # no lost admission (1, 2 intact; 12 admitted) and no re-admitted
    # near-duplicate (10 suppressed vs doc 1's state, 11 vs doc 2's)
    assert admitted == [1, 2, 12]
    # the state store grew by exactly the fresh admission
    state_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{dirs['state_dir']}/sigs")
        .select("doc_id").distinct().collect()
    )
    assert state_ids == [1, 2, 12]
    # every epoch that wrote output has its ledger marker (idempotent
    # replay protection survived the restart)
    n_epochs = len(glob.glob(f"{dirs['output_dir']}/epoch=*"))
    assert len(glob.glob(f"{dirs['ledger_dir']}/epoch-*")) == n_epochs


def test_streaming_neardup_legacy_state_layout_fails_fast(spark, tmp_path):
    """ADVICE r11: a pre-r11 flat-layout store (state_dir/epoch=N at
    top level) must fail fast at sink start, not silently skip
    cross-batch suppression."""
    from pyspark.sql import types as T

    from b2b_data_pipeline_indiamart_spark.streaming.jobs import (
        start_neardup_suppress_sink,
    )

    src = tmp_path / "docs"
    src.mkdir()
    (src / "b1.json").write_text('{"doc_id": 1, "text": "hello world"}\n')
    state = tmp_path / "state"
    (state / "epoch=0").mkdir(parents=True)  # legacy flat layout

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    sdf = read_event_stream(spark, str(src), schema=schema)
    with pytest.raises(ValueError, match="legacy flat layout"):
        start_neardup_suppress_sink(
            sdf, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            str(state), str(tmp_path / "ledger"),
        )
    # the new layout (or an absent dir) starts fine
    q = start_neardup_suppress_sink(
        sdf, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        str(tmp_path / "state_new"), str(tmp_path / "ledger"),
    )
    _drain(q)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1


@pytest.mark.slow
def test_streaming_neardup_exact_dup_storm_survives_bucket_cap(
    spark, tmp_path
):
    """ADVICE r12 (medium): a batch whose EXACT-duplicate count exceeds
    the LSH bucket cap must still suppress the copies. Pre-fix, the
    within-batch lsh_candidate_pairs silently inherited
    LSH_MAX_BUCKET_DEFAULT and an identical-doc storm filled an
    oversized bucket in EVERY band — zero candidate pairs, every copy
    admitted and persisted to state. The sink now collapses exact
    duplicates BEFORE signature generation, so the cap (deliberately
    tiny here: 2, with an 8-copy storm) never sees the storm, while
    distinct-text near-dups still pair through the capped LSH stage
    and cross-batch exact copies are still caught against the store."""
    import glob
    import json as _json
    import os

    from b2b_data_pipeline_indiamart_spark.streaming.jobs import (
        start_neardup_suppress_sink,
    )
    from pyspark.sql import types as T

    boiler = ("standard licence header repeated verbatim across the "
              "whole crawl shard " * 6)
    near_a = ("a very specific passage about volcanic geology and the "
              "slow crystallization of basalt columns in iceland "
              "during the long dark winters of the little ice age")
    near_b = near_a.replace("winters", "summers")
    uniq = ("an unrelated passage describing the harmonic structure "
            "of a baroque fugue and the strict voice leading rules "
            "its countersubject obeys through every modulation")

    src = tmp_path / "docs"
    src.mkdir()

    def write(name, rows, mtime):
        p = src / name
        with open(p, "w") as f:
            for did, text in rows:
                f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
        os.utime(p, (mtime, mtime))

    # b1: 8 exact copies (> cap=2) + a distinct-text near pair + unique
    write(
        "b1.json",
        [(i, boiler) for i in range(1, 9)]
        + [(20, near_a), (21, near_b), (30, uniq)],
        1_000_000_000,
    )
    # b2: one more exact copy of the boilerplate -> must be caught
    # CROSS-batch against the admitted store (rep id 1's signatures)
    write("b2.json", [(40, boiler)], 1_000_000_100)

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    sdf = read_event_stream(
        spark, str(src), schema=schema, max_files_per_trigger=1
    )
    out = str(tmp_path / "out")
    q = start_neardup_suppress_sink(
        sdf,
        out,
        str(tmp_path / "ckpt"),
        str(tmp_path / "state"),
        str(tmp_path / "ledger"),
        threshold=0.75,
        max_bucket_size=2,
    )
    _drain(q)
    admitted = sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    )
    # storm copies 2..8 suppressed within-batch (exact collapse), 40
    # suppressed cross-batch, near-dup 21 suppressed by the capped LSH
    assert admitted == [1, 20, 30]
    # the state store holds ONLY the admitted representatives
    state_ids = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "state" / "sigs"))
        .collect()
    )
    assert state_ids == [1, 20, 30]
    assert sorted(
        os.path.basename(d) for d in glob.glob(f"{out}/epoch=*")
    ) == ["epoch=0", "epoch=1"]


def test_streaming_neardup_band_store_one_file_per_bucket(spark, tmp_path):
    """The band index is hash-repartitioned on ``band_bucket`` before
    its partitioned write, so every ``bands/epoch=E/band_bucket=B``
    directory holds ONE parquet file, however many partitions the
    epoch's band rows arrive in."""
    import glob
    import json as _json
    import os
    import random

    from b2b_data_pipeline_indiamart_spark.streaming.jobs import (
        start_neardup_suppress_sink,
    )
    from pyspark.sql import types as T

    rng = random.Random(11)
    words = ["w%03d" % i for i in range(400)]
    src = tmp_path / "docs"
    src.mkdir()
    for e in range(2):
        p = src / f"b{e}.json"
        with open(p, "w") as f:
            for i in range(40):
                text = " ".join(rng.choice(words) for _ in range(30))
                f.write(_json.dumps({"doc_id": e * 100 + i, "text": text}) + "\n")
        os.utime(p, (1_000_000_000 + 100 * e,) * 2)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    sdf = read_event_stream(spark, str(src), schema=schema, max_files_per_trigger=1)
    state = tmp_path / "state"
    q = start_neardup_suppress_sink(
        sdf,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        str(state),
        str(tmp_path / "ledger"),
    )
    _drain(q)
    buckets = sorted(glob.glob(str(state / "bands" / "epoch=*" / "band_bucket=*")))
    assert {b.split(os.sep)[-2] for b in buckets} == {"epoch=0", "epoch=1"}
    files = {b: len(glob.glob(os.path.join(b, "*.parquet"))) for b in buckets}
    assert set(files.values()) == {1}, files


def test_streaming_drift_monitor_psi(spark, tmp_path):
    """The PSI drift monitor: an epoch drawn from the reference
    distribution scores near zero; a shifted epoch crosses the 0.25
    alarm band — and the metrics table is epoch-partitioned parquet
    (the idempotent partition-upsert write unit)."""
    from b2b_data_pipeline_indiamart_spark.streaming import (
        psi_reference,
        read_event_stream,
        start_drift_monitor_sink,
    )

    # reference: value = i % 200 over 2000 rows (deterministic)
    ref = spark.createDataFrame(
        [(float(i % 200),) for i in range(2000)], "value DOUBLE"
    )
    edges, counts = psi_reference(ref, "value")
    assert len(edges) == 9 and len(counts) == 10
    assert sum(counts) == 2000

    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "psi")
    ck = str(tmp_path / "ck")
    # epoch 0: same distribution; epoch 1: +500 shift (total drift)
    _write_events(
        src / "b1.json",
        [(f"2026-01-01T10:{i % 60:02d}:00", i, "view", float(i % 200))
         for i in range(600)],
    )
    q = start_drift_monitor_sink(
        read_event_stream(spark, str(src), max_files_per_trigger=1),
        out,
        ck,
        ref_edges=edges,
        ref_counts=counts,
    )
    q.processAllAvailable()
    _write_events(
        src / "b2.json",
        [(f"2026-01-01T11:{i % 60:02d}:00", i, "view", 500.0 + i % 50)
         for i in range(600)],
    )
    q.processAllAvailable()
    q.stop()

    rows = {r["epoch"]: r for r in spark.read.parquet(out).collect()}
    assert len(rows) == 2
    same, shifted = rows[0], rows[1]
    assert same["n_rows"] == 600 and shifted["n_rows"] == 600
    assert same["psi"] < 0.1 and same["drifted"] is False
    assert shifted["psi"] > 0.25 and shifted["drifted"] is True
    # every shifted value lands in the top bin: PSI ≈ the max-drift
    # regime, well above the alarm band, sanity of the closed form
    assert shifted["psi"] > 1.0


def test_drift_monitor_rejects_mismatched_reference(spark, tmp_path):
    """A swapped/truncated edges-counts pair must fail LOUDLY at sink
    construction (r14 ADVICE): n counts needs exactly n-1 edges, else
    every microbatch would silently mis-bin."""
    import pytest as _pytest

    from b2b_data_pipeline_indiamart_spark.streaming import (
        read_event_stream,
        start_drift_monitor_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    with _pytest.raises(ValueError, match="ref_edges"):
        start_drift_monitor_sink(
            stream,
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
            ref_edges=[1.0, 2.0],  # truncated: 10 counts need 9 edges
            ref_counts=[10] * 10,
        )


# ---------------------------------------------------------------- round 14
# Embedding (semantic) near-dup suppression sink


def _write_vecs(path, rows):
    with open(path, "w") as f:
        for vid, vec in rows:
            f.write(json.dumps({"vec_id": vid, "embedding": vec}) + "\n")


def _vec_stream(spark, src):
    from pyspark.sql import types as T

    from b2b_data_pipeline_indiamart_spark.streaming import read_event_stream

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    return read_event_stream(
        spark, str(src), schema=schema, max_files_per_trigger=1
    )


_CENTROIDS = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]


def test_streaming_embedding_neardup_across_batches(spark, tmp_path):
    """Semantic near-dup suppression: within-batch lowest-id keep,
    cross-batch suppression against the persistent cell-bucketed
    store, and stream admissions ≡ batch semdedup on the full corpus
    under ordered arrival."""
    from b2b_data_pipeline_indiamart_spark.operators import (
        caching,
        similarity,
    )
    from b2b_data_pipeline_indiamart_spark.streaming import (
        start_embedding_neardup_suppress_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    b1 = [
        (1, [1.0, 0.0, 0.0, 0.0]),       # cell 0, admitted
        (2, [0.999, 0.01, 0.0, 0.0]),    # near-dup of 1 -> suppressed
        (3, [0.0, 1.0, 0.0, 0.0]),       # cell 1, admitted
        (4, [0.6, 0.0, 0.8, 0.0]),       # cell 0 but dissimilar, kept
    ]
    b2 = [
        (10, [0.998, 0.02, 0.0, 0.0]),   # near-dup of ADMITTED 1 -> out
        (11, [0.0, 0.999, 0.02, 0.0]),   # near-dup of ADMITTED 3 -> out
        (12, [0.0, 0.6, 0.0, 0.8]),      # cell 1, dissimilar, kept
    ]
    _write_vecs(src / "b1.json", b1)
    out, state = str(tmp_path / "out"), str(tmp_path / "state")
    q = start_embedding_neardup_suppress_sink(
        _vec_stream(spark, src),
        out,
        str(tmp_path / "ck"),
        state,
        str(tmp_path / "ledger"),
        centroids=_CENTROIDS,
        threshold=0.9,
    )
    try:
        q.processAllAvailable()
        _write_vecs(src / "b2.json", b2)
        q.processAllAvailable()
    finally:
        q.stop()

    admitted = sorted(
        r["vec_id"] for r in spark.read.parquet(out).collect()
    )
    assert admitted == [1, 3, 4, 12]

    # stream ≡ batch: the same corpus through the batch composition
    # (fixed-centroid assignment + similarity.semdedup) keeps the
    # same ids under ordered arrival
    all_rows = spark.createDataFrame(
        [(i, v) for i, v in b1 + b2],
        "vec_id long, embedding array<double>",
    )
    assigned = similarity.ivf_assign(
        all_rows, _CENTROIDS, out_id="__aid"
    ).select("__aid", "cell")
    clustered = all_rows.join(
        assigned, all_rows["vec_id"] == assigned["__aid"]
    ).select("vec_id", "embedding", "cell")
    batch_kept = sorted(
        r["vec_id"]
        for r in similarity.semdedup(
            clustered, "cell", threshold=0.9
        ).collect()
        if r["kept"]
    )
    assert batch_kept == admitted
    # state store: one row per admitted vector, cell-partitioned
    svecs = spark.read.parquet(f"{state}/vecs")
    assert svecs.count() == 4
    caching.release_cached()


def test_streaming_embedding_neardup_replay_is_idempotent(spark, tmp_path):
    """A committed epoch replay is a no-op (ledger marker), and the
    state read excludes the in-flight epoch."""
    from b2b_data_pipeline_indiamart_spark.streaming import (
        start_embedding_neardup_suppress_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    _write_vecs(src / "b1.json", [(1, [1.0, 0.0, 0.0, 0.0])])
    out = str(tmp_path / "out")

    def start():
        return start_embedding_neardup_suppress_sink(
            _vec_stream(spark, src),
            out,
            str(tmp_path / "ck"),
            str(tmp_path / "state"),
            str(tmp_path / "ledger"),
            centroids=_CENTROIDS,
            threshold=0.9,
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # restart over the same source: epoch 0 is in the ledger, the
    # replay must not duplicate output or state
    q = start()
    try:
        _write_vecs(src / "b2.json", [(2, [0.0, 1.0, 0.0, 0.0])])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(
        r["vec_id"] for r in spark.read.parquet(out).collect()
    )
    assert rows == [1, 2]


def test_streaming_embedding_neardup_probe_prunes_cells(spark, tmp_path):
    """The cross-batch probe's state scan must prune to the batch's
    cell set via partition filters (the IVF probe seam)."""
    from pyspark.sql import types as T

    from b2b_data_pipeline_indiamart_spark.streaming import (
        read_state_store,
        start_embedding_neardup_suppress_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    _write_vecs(
        src / "b1.json",
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
    )
    state = str(tmp_path / "state")
    q = start_embedding_neardup_suppress_sink(
        _vec_stream(spark, src),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
        state,
        str(tmp_path / "ledger"),
        centroids=_CENTROIDS,
        threshold=0.9,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    id_field = T.StructField("vec_id", T.LongType())
    pruned = read_state_store(
        spark, state, "vecs", id_field, parts=[0]
    )
    assert [r["vec_id"] for r in pruned.collect()] == [1]
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_streaming_embedding_neardup_ledger_exclusion_seam(spark, tmp_path):
    """The replay-safety seam (VERDICT r14 #9): the state read
    EXCLUDES the in-flight epoch via a partition filter, so a replayed
    epoch can never suppress a vector against its own half-written
    state. Two committed epochs, then read with exclude_epoch on the
    second: its rows must vanish and the exclusion must be a partition
    filter (metadata prune, not a scan+filter)."""
    from pyspark.sql import types as T

    from b2b_data_pipeline_indiamart_spark.streaming import (
        read_state_store,
        start_embedding_neardup_suppress_sink,
    )

    src = tmp_path / "in"
    src.mkdir()
    _write_vecs(src / "b1.json", [(1, [1.0, 0.0, 0.0, 0.0])])
    state = str(tmp_path / "state")
    q = start_embedding_neardup_suppress_sink(
        _vec_stream(spark, src),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
        state,
        str(tmp_path / "ledger"),
        centroids=_CENTROIDS,
        threshold=0.9,
    )
    try:
        q.processAllAvailable()
        _write_vecs(src / "b2.json", [(2, [0.0, 1.0, 0.0, 0.0])])
        q.processAllAvailable()
    finally:
        q.stop()
    id_field = T.StructField("vec_id", T.LongType())
    full = read_state_store(spark, state, "vecs", id_field)
    assert {r["vec_id"] for r in full.collect()} == {1, 2}
    # epoch ids are the foreachBatch batch ids: vec 2 landed in the
    # later epoch — excluding it must remove vec 2 only
    epochs = {
        r["vec_id"]: r["epoch"]
        for r in spark.read.parquet(f"{state}/vecs").select(
            "vec_id", "epoch"
        ).collect()
    }
    excl = read_state_store(
        spark, state, "vecs", id_field, exclude_epoch=epochs[2]
    )
    assert {r["vec_id"] for r in excl.collect()} == {1}
    plan = excl._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "epoch" in plan
