"""Structured Streaming jobs over the events stream.

Reference parity: the scraper (scraper.py:581-621) is an incremental,
checkpointed producer — it appends finished batches to a partial CSV
and records progress in a JSON checkpoint so a crash resumes without
re-scraping. The Spark-native equivalent is a file-source stream with a
``checkpointLocation``: Structured Streaming's write-ahead offset log
plus idempotent sink commit gives exactly-once file→parquet ingestion,
strictly stronger than the reference's at-least-once manifest.

Aggregations use built-in streaming operators (``window``,
``session_window``, watermarks) wherever they can, so state lives in
the JVM's state store. Three operators the built-ins can't express drop
to ``applyInPandasWithState``: :func:`running_user_totals`,
:func:`stateful_sessionize` (event-time timeout) and
:func:`running_distinct_types`.

The two exactly-once near-dup sinks share one epoch ledger
(:func:`_ledgered`) that makes a replayed epoch a no-op, and one
admitted-state layout (:data:`_STATE_STORES`, :func:`read_state_store`,
:func:`_admit_and_extend`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.rounding import round_half_up
from ..operators.dedup import LSH_MAX_BUCKET_DEFAULT
from ..sources.sinks import hadoop_path, upsert_partitions


def event_stream_schema() -> T.StructType:
    """Schema of the events stream (mirrors testdata ``events``:
    ts/user_id/event_type/value/props). File streams require an
    explicit schema — inference would re-list the directory."""
    return T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_event_stream(
    spark: SparkSession,
    input_dir: str,
    *,
    fmt: str = "json",
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream. ``maxFilesPerTrigger`` bounds per-batch work
    so one giant backlog directory can't produce an unbounded batch."""
    reader = spark.readStream.format(fmt).schema(schema or event_stream_schema())
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(input_dir)


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "15 minutes",
) -> DataFrame:
    """Tumbling windowed counts + value sum per event_type.

    The watermark bounds state: windows older than
    ``max(event time) - watermark`` are finalized and evicted, so state
    size is O(active windows × event types) regardless of stream
    length — the property that lets this run forever at scale.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_session_aggregate(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "15 minutes",
) -> DataFrame:
    """Gap-based sessionization with the native ``session_window``.

    Same semantics as the batch ``events_sessionize`` operator (gap >
    ``gap`` starts a new session) but incremental: the state store
    merges adjacent session windows per user and the watermark closes
    sessions whose end precedes it. No Python in the loop.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


_TOTALS_STATE = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_TOTALS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Running per-user event count + value total via
    ``applyInPandasWithState`` — the custom-stateful-operator template.

    State is one (count, sum) pair per user, updated from Arrow batches
    and re-emitted each micro-batch (update mode). Use this shape for
    operators the built-ins can't express; for anything expressible as
    a windowed/session aggregate prefer those — JVM state store, no
    Python round-trip.
    """

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_TOTALS_OUT,
            stateStructType=_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_SESS_STATE = T.StructType(
    [
        T.StructField("start_ms", T.LongType()),
        T.StructField("last_ms", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_SESS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("session_value", T.DoubleType()),
    ]
)


def stateful_sessionize(
    events: DataFrame,
    *,
    gap_minutes: int = 30,
    watermark: str = "15 minutes",
) -> DataFrame:
    """Custom stateful sessionization via ``applyInPandasWithState``
    with EVENT-TIME TIMEOUT — the full custom-operator template the
    built-in ``session_window`` can't generalize from (arbitrary
    per-session state, arbitrary close-time logic, emit-on-close).

    Per user the state is one open session (start, last, count, sum).
    A batch's events merge in event-time order: a gap > ``gap_minutes``
    closes the current session (emitted immediately) and opens a new
    one. The timeout timestamp is re-armed to ``last + gap`` after
    every batch, so when the WATERMARK passes it — i.e. no event can
    ever extend the session again — Spark calls the function with
    ``hasTimedOut`` and the final session is emitted and its state
    dropped. State is O(active users), bounded by the watermark;
    emission is append-mode (each session exactly once).
    """
    gap_ms = gap_minutes * 60 * 1000

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        def emit(sessions):
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(sessions),
                    "session_start": [pd.Timestamp(s, unit="ms") for s, _, _, _ in sessions],
                    "session_end": [pd.Timestamp(e, unit="ms") for _, e, _, _ in sessions],
                    "n_events": [n for _, _, n, _ in sessions],
                    "session_value": [round(v, 4) for _, _, _, v in sessions],
                }
            )

        if state.hasTimedOut:
            start, last, n, total = state.get
            state.remove()
            yield emit([(start, last, n, total)])
            return

        parts = [pdf[["ts", "value"]] for pdf in pdf_iter]
        batch = pd.concat(parts).sort_values("ts")
        ts_ms = (batch["ts"].astype("int64") // 1_000_000).tolist()
        values = batch["value"].fillna(0.0).tolist()

        cur = state.get if state.exists else None
        closed = []
        for t, v in zip(ts_ms, values):
            if cur is None:
                cur = (t, t, 1, float(v))
            elif t - cur[1] > gap_ms:
                closed.append(cur)
                cur = (t, t, 1, float(v))
            else:
                cur = (cur[0], max(cur[1], t), cur[2] + 1, cur[3] + float(v))
        state.update(cur)
        state.setTimeoutTimestamp(cur[1] + gap_ms)
        yield emit(closed)

    return (
        events.select("ts", "user_id", "value")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_SESS_OUT,
            stateStructType=_SESS_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def view_click_attribution(
    events: DataFrame,
    *,
    within: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream join: each click attributed to the same user's
    preceding view within ``within``.

    Both sides are the one input stream filtered by type (the scan is
    shared). The time-bound condition + watermarks let Spark bound both
    join-state buffers — views older than the bound are evicted, so
    state is O(traffic × within), not O(stream). The canonical
    attribution-join shape for clickstream pipelines.
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("click_ts", watermark)
    )
    cond = (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}"))
    )
    return views.join(clicks, cond, "inner").select(
        F.col("v_user").alias("user_id"), "view_ts", "click_ts", "click_value"
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    *,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps one row per key and evicts
    key state once the watermark passes it — bounded state, unlike a
    plain streaming ``dropDuplicates`` whose key set grows forever.
    This is the streaming face of the batch ``dedup_exact_docs``
    operator: at-most-once emission per key per watermark window, the
    shape an ingest pipeline needs to suppress re-sent documents.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["user_id", "event_type"]
    )


def start_memory_sink(
    sdf: DataFrame, name: str, *, output_mode: str = "update"
) -> StreamingQuery:
    """Test/debug sink: results land in an in-memory table ``name``."""
    return (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


def start_parquet_ingest(
    sdf: DataFrame, output_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Checkpointed file→parquet ingestion (exactly-once). Restarting
    with the same ``checkpoint_dir`` resumes from the recorded offsets —
    the scraper's checkpoint/partial-CSV resume, Spark-native."""
    return (
        sdf.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def streaming_decontaminate(
    doc_stream: DataFrame,
    benchmark_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
) -> DataFrame:
    """Streaming face of the batch decontamination operator: each
    arriving document is flagged if it shares any word n-gram with the
    STATIC benchmark corpus — the stream-static join pattern (a live
    ingest feed probed against a fixed reference table).

    Streaming-safe shape: the batch operator's explode → distinct →
    groupBy would need a watermark and delayed emission; instead the
    benchmark side collapses to ONE static row holding the distinct
    gram set (``collect_set`` — eval suites are small, same broadcast
    argument as decontam.decontaminate), the stream side keeps each
    doc's grams as an ``array_distinct`` column, and the flag is
    ``array_intersect`` size — a map-only stream-static broadcast
    join, append-mode clean with no state and no watermark. Per-row
    cost is |doc grams| × lookup against a set shipped once per task.
    """
    from ..operators.decontam import ngram_fingerprints
    from ..operators.dedup import normalize_doc

    bench = F.broadcast(
        ngram_fingerprints(benchmark_docs, text_col, id_col, n)
        .agg(F.collect_set("gram").alias("__bench_grams"))
    )
    toks = F.filter(
        F.split(normalize_doc(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    grams = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
                lambda i: F.md5(F.array_join(F.slice(toks, i, n), " ")),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    shared = F.size(F.array_intersect(F.col("__g"), F.col("__bench_grams")))
    return (
        doc_stream.withColumn("__g", grams)
        .join(bench)
        .select(
            F.col(id_col),
            shared.cast("long").alias("shared_ngrams"),
            (shared > 0).alias("contaminated"),
        )
    )


def _ledgered(ledger_dir: str, write_epoch):
    """The epoch ledger every exactly-once ``foreachBatch`` sink here
    shares: returns the function to pass to ``foreachBatch``, which
    runs ``write_epoch(batch_df, epoch_id)`` unless the epoch is
    already committed.

    Spark's foreachBatch contract is AT-LEAST-once: after a crash
    between "user function ran" and "offsets committed", the SAME
    epoch_id is replayed with the same data. A replayed epoch whose
    marker ``ledger_dir/epoch-<id>`` exists is skipped; otherwise
    ``write_epoch`` runs (it must overwrite its own partial output from
    a crashed try) and the marker is created only AFTER it returns, so
    a writer that raises leaves the epoch uncommitted for the retry.
    Markers go through the Hadoop FileSystem API
    (:func:`~...sources.sinks.hadoop_path`), so the ledger works on any
    URI Spark can write to — a plain ``os.path`` check would never see
    markers on an object store and every replayed epoch would rewrite.
    """

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        fs, marker = hadoop_path(
            batch_df.sparkSession, f"{ledger_dir}/epoch-{epoch_id}"
        )
        if fs.exists(marker):  # replay of a committed epoch
            return
        write_epoch(batch_df, epoch_id)
        # commit AFTER the data lands; creating the marker is atomic on
        # HDFS and a single conditional PUT on object stores
        fs.mkdirs(marker.getParent())
        fs.createNewFile(marker)

    return run


def _start_ledgered(
    stream: DataFrame, checkpoint_dir: str, ledger_dir: str, suppress
) -> StreamingQuery:
    """Start ``stream`` into a near-dup sink through the epoch ledger:
    each epoch persists its batch inside one :func:`~...caching.scope`
    and, when the batch is not empty, runs ``suppress(batch,
    epoch_id)``."""
    from ..operators import caching

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        with caching.scope():
            batch = caching.persist_tracked(batch_df)
            if batch.take(1):
                suppress(batch, epoch_id)

    return (
        stream.writeStream.foreachBatch(_ledgered(ledger_dir, write_epoch))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


#: The near-dup sinks' admitted-state stores, each laid out
#: ``state_dir/<store>/epoch=<e>[/<part>=<p>]`` with one row per
#: ADMITTED id: store → (value fields for signature length k, the
#: int sub-partition column the probe prunes on, or None).
_STATE_STORES = {
    "sigs": (lambda k: [(f"mh_{i}", T.LongType()) for i in range(k)], None),
    "bands": (
        lambda k: [("band_id", T.IntegerType()), ("band_hash", T.LongType())],
        "band_bucket",
    ),
    "vecs": (lambda k: [("v", T.ArrayType(T.DoubleType()))], "cell"),
}


def read_state_store(
    spark,
    state_dir: str,
    store: str,
    id_field,
    *,
    k: int = 64,
    exclude_epoch: int | None = None,
    parts: "list[int] | None" = None,
) -> DataFrame:
    """One near-dup state store of :data:`_STATE_STORES` as (id,
    *values[, part]).

    The schema is explicit, partition columns included: a store
    directory that exists but holds no committed parquet yet (a crash
    after mkdir) reads as an empty frame instead of failing schema
    inference and wedging the stream until manual cleanup. Both
    predicates are partition filters: ``exclude_epoch`` drops the
    in-flight epoch, so a replay never probes its own half-written
    rows, and ``parts`` keeps only the probe's band buckets or IVF
    cells — the 100 TB seam: a micro-batch scans the state ∝ its own
    buckets or cells, never ∝ corpus.
    """
    values, part = _STATE_STORES[store]
    schema = T.StructType(
        [id_field]
        + [T.StructField(name, typ) for name, typ in values(k)]
        + [T.StructField("epoch", T.LongType())]
        + ([T.StructField(part, T.IntegerType())] if part else [])
    )
    df = spark.read.schema(schema).parquet(f"{state_dir}/{store}")
    if exclude_epoch is not None:
        df = df.filter(F.col("epoch") != exclude_epoch)
    if parts is not None:
        df = df.filter(F.col(part).isin(parts))
    return df.drop("epoch")


def _probe_state(
    probe: DataFrame, id_col: str, state_dir: str, store: str, epoch_id: int
) -> "DataFrame | None":
    """The admitted rows of ``store`` in the sub-partitions ``probe``
    hits (its column named after the store's part column), the
    in-flight epoch excluded; None before the store's first epoch. The
    probe's partition set is one small collect (≤ buckets or cells)."""
    spark = probe.sparkSession
    fs, path = hadoop_path(spark, f"{state_dir}/{store}")
    if not fs.exists(path):
        return None
    part = _STATE_STORES[store][1]
    parts = [r[0] for r in probe.select(part).distinct().collect()]
    return read_state_store(
        spark, state_dir, store, probe.schema[id_col],
        exclude_epoch=epoch_id, parts=parts,
    )


def _admit_and_extend(
    batch: DataFrame,
    sup: DataFrame,
    id_col: str,
    output_dir: str,
    state_dir: str,
    epoch_id: int,
    extend: "dict[str, DataFrame]",
) -> None:
    """Write the ``batch`` rows whose id is not in ``sup`` to
    ``output_dir/epoch=<id>``, then append each ``extend`` store's
    rows (keyed by ``id_col``) of the admitted ids to
    ``state_dir/<store>/epoch=<id>``, partitioned by the store's part
    column and hash-repartitioned on it first, so each part directory
    gets ONE file per epoch (not one per input partition). The
    partition count is explicit (defaultParallelism): AQE would
    coalesce a few KB of rows into one task that writes every part
    file in turn. The ids are read back from the WRITTEN output, so
    output and state cannot diverge under a lazy recomputation; a
    retried epoch overwrites its own directories."""
    spark = batch.sparkSession
    out = f"{output_dir}/epoch={epoch_id}"
    batch.join(sup.distinct(), id_col, "left_anti").write.mode(
        "overwrite"
    ).parquet(out)
    admitted = spark.read.parquet(out)
    for store, rows in extend.items():
        ids = admitted.select(
            F.col(id_col).cast(rows.schema[id_col].dataType).alias(id_col)
        )
        kept = rows.join(ids, id_col)
        part = _STATE_STORES[store][1]
        writer = (
            kept.repartition(spark.sparkContext.defaultParallelism, part).write.partitionBy(part)
            if part
            else kept.write
        )
        writer.mode("overwrite").parquet(f"{state_dir}/{store}/epoch={epoch_id}")


def _assert_no_legacy_neardup_store(spark, state_dir: str) -> None:
    """Fail fast when ``state_dir`` holds the pre-r11 flat layout
    (``state_dir/epoch=N`` signature dirs at top level) instead of the
    band-bucketed ``state_dir/{sigs,bands}/epoch=N`` layout — see
    :func:`start_neardup_suppress_sink`. Silent acceptance would drop
    all previously-admitted state from cross-batch suppression."""
    fs, root = hadoop_path(spark, state_dir)
    if not fs.exists(root):
        return
    legacy = [
        st.getPath().getName()
        for st in fs.listStatus(root)
        if st.getPath().getName().startswith("epoch=")
    ]
    if legacy:
        raise ValueError(
            f"near-dup state store {state_dir!r} uses the legacy flat "
            f"layout ({legacy[:3]}…): migrate each epoch=N dir into "
            f"sigs/epoch=N and rebuild the band index under bands/ "
            f"(or point the stream at a fresh state_dir); refusing to "
            f"start rather than silently dropping admitted-state "
            f"suppression."
        )


def start_neardup_suppress_sink(
    docs: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    ledger_dir: str,
    *,
    threshold: float = 0.8,
    k: int = 64,
    bands: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    state_buckets: int = 64,
    max_bucket_size: int | None = LSH_MAX_BUCKET_DEFAULT,
) -> StreamingQuery:
    """Streaming NEAR-dup suppression — the ingest-side MinHash/LSH
    dedup a training-data pipeline runs continuously: every micro-batch
    is checked against the corpus admitted SO FAR, not just itself.

    Per epoch (foreachBatch):

    1. exact-duplicate collapse (:func:`~...dedup.exact_collapse`):
       copies of the same normalized text suppress to the min id up
       front — the same outcome the uncapped greedy pass would reach
       (identical signatures → est 1.0), but it keeps a boilerplate
       storm of >``max_bucket_size`` identical docs out of the LSH
       bucket cap's blast radius (ADVICE r12) and shrinks stages 2-3
       by the duplicate factor;
    2. MinHash signatures for the batch REPRESENTATIVES
       (operators/dedup — the SAME signature/banding math as the
       batch keys, so a batch backfill reconciles with what the
       stream admitted), then within-batch suppression: LSH self-join
       candidates (bucket cap explicit via ``max_bucket_size``),
       signature-agreement estimate ≥ ``threshold`` suppresses the
       HIGHER id of each pair (greedy keep-lowest-id — the
       deterministic streaming analogue of the batch keep-first);
    3. cross-batch suppression: batch bands equi-join the PERSISTENT
       admitted-signature store (parquet under ``state_dir``), the
       two-sided :func:`~...dedup.minhash_estimate` scores candidates,
       matches ≥ ``threshold`` suppress the batch doc;
    4. admitted docs append to ``output_dir/epoch=<id>`` and their
       signatures to ``state_dir/sigs/epoch=<id>`` (and their band
       index to ``state_dir/bands/epoch=<id>/band_bucket=<b>``, one
       parquet file per bucket per epoch); the epoch ledger
       (:func:`_ledgered`) makes replays idempotent — retried epochs
       overwrite their own directories, and the state
       read excludes the in-flight epoch so a replay can't suppress a
       doc against its own half-written signatures.

    Scale shape: state grows one signature row (k longs) plus
    ``bands`` index rows per ADMITTED doc — the minimum any
    cross-batch exact-memory dedup needs; the per-epoch probe is a
    band equi-join (shuffle ∝ batch·bands + matching state buckets),
    never all-pairs. The band index is PARTITIONED BY
    ``band_bucket = pmod(band_hash, state_buckets)`` so the probe's
    bucket set becomes a partition filter on the state scan — at
    100 TB a micro-batch reads only the buckets its own bands hash
    into instead of the whole corpus index, and the signature fetch
    that follows is a broadcast semi-join on just the candidate ids.
    An approximate-memory variant would swap the store for a
    Bloom/CMS of band hashes at the cost of false-positive
    suppression.
    """
    from ..operators import caching, dedup

    # ADVICE r11: the store layout moved from state_dir/epoch=N
    # (signatures at top level) to state_dir/{sigs,bands}/epoch=N.
    # Restarting an old-layout store against the new reader would make
    # the exists() probe on state_dir/bands miss, SILENTLY skipping
    # cross-batch suppression and re-admitting near-duplicates while
    # orphaning the old epochs. Fail fast instead: legacy stores must
    # be migrated (or a fresh state_dir used) explicitly.
    _assert_no_legacy_neardup_store(docs.sparkSession, state_dir)

    def suppress_epoch(batch: DataFrame, epoch_id: int) -> None:
        # (1b) collapse exact duplicates BEFORE signatures (ADVICE
        # r12; the ngram_jaccard_verified discipline). Without this, a
        # batch of >max_bucket_size identical/boilerplate docs lands
        # in ONE oversized bucket in EVERY band; the cap would drop
        # them all and the "other, more selective bands" recovery
        # argument does not apply to exact copies — every copy would
        # be silently admitted. Collapsing first suppresses the copies
        # exactly as the uncapped greedy pass would (identical
        # normalized text → identical signatures → est_jaccard 1.0 →
        # higher ids suppressed) and makes the bucket cap safe for the
        # near-dup stage, which now only ever sees distinct normalized
        # texts.
        members = caching.persist_tracked(
            dedup.exact_collapse(batch, text_col, id_col)
        )
        exact_sup = members.filter(
            F.col(id_col) != F.col("rep_id")
        ).select(id_col)
        reps = batch.join(
            members.filter(F.col(id_col) == F.col("rep_id")).select(id_col),
            id_col,
            "left_semi",
        )
        sigs = caching.persist_tracked(
            dedup.minhash_signatures(reps, text_col, id_col, k=k)
        )
        # (2) within-batch greedy suppression (representatives only;
        # the cap is explicit at this call site — sink param)
        pairs = dedup.lsh_candidate_pairs(
            sigs, id_col=id_col, k=k, bands=bands,
            max_bucket_size=max_bucket_size,
        )
        sup = (
            dedup.minhash_estimate(pairs, sigs, id_col=id_col, k=k)
            .filter(F.col("est_jaccard") >= threshold)
            .select(F.col("id_b").alias(id_col))
            .unionByName(exact_sup)
        )
        # (3) cross-batch suppression vs the admitted store
        batch_bands = caching.persist_tracked(
            dedup.band_table(sigs, id_col=id_col, k=k, bands=bands)
            .withColumn(
                "band_bucket",
                F.pmod(F.col("band_hash"), F.lit(state_buckets)).cast("int"),
            )
        )
        state_bands = _probe_state(
            batch_bands, id_col, state_dir, "bands", epoch_id
        )
        if state_bands is not None:
            cand = caching.persist_tracked(
                batch_bands.join(
                    state_bands.withColumnRenamed(id_col, "__state_id"),
                    ["band_id", "band_hash"],
                )
                .select(
                    F.col(id_col).alias("id_a"),
                    F.col("__state_id").alias("id_b"),
                )
                .distinct()
            )
            # fetch ONLY the candidate ids' signatures: broadcast
            # semi-join of the (small) candidate set against the sig
            # store — no state-wide shuffle
            state_sigs = read_state_store(
                batch.sparkSession, state_dir, "sigs", sigs.schema[id_col],
                k=k, exclude_epoch=epoch_id,
            ).join(
                F.broadcast(
                    cand.select(F.col("id_b").alias(id_col)).distinct()
                ),
                id_col,
                "left_semi",
            )
            sup_state = (
                dedup.minhash_estimate(
                    cand, sigs, id_col=id_col, k=k, signatures_b=state_sigs,
                )
                .filter(F.col("est_jaccard") >= threshold)
                .select(F.col("id_a").alias(id_col))
            )
            sup = sup.unionByName(sup_state)
        # (4) the admitted docs' signatures and band index extend the store
        _admit_and_extend(
            batch, sup, id_col, output_dir, state_dir, epoch_id,
            {"sigs": sigs, "bands": batch_bands},
        )

    return _start_ledgered(docs, checkpoint_dir, ledger_dir, suppress_epoch)


def start_embedding_neardup_suppress_sink(
    vecs: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    ledger_dir: str,
    *,
    centroids: "list[list[float]]",
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> StreamingQuery:
    """Streaming SEMANTIC near-dup suppression — the embedding half of
    the ingest-side dedup story (VERDICT r13 #7): the cosine/SemDeDup
    analogue of :func:`start_neardup_suppress_sink`, probing a
    persistent cell-bucketed vector store so every micro-batch is
    checked against the corpus admitted SO FAR.

    ``centroids`` is the trained-state-shipped-as-literals seam (the
    PQ/IVF codebook pattern): k-means cells trained OFFLINE on a
    backfill (operators/similarity.kmeans_centroids) and passed in as
    plain lists, so the streaming plan carries no training step and
    every epoch routes with the one assignment kernel the batch keys
    and their seeded twins use (operators/similarity.ivf_assign).

    Per epoch (foreachBatch):

    1. nearest-centroid cell assignment (``ivf_assign``: map-only
       Arrow pass, 6dp-rounded cosine, ties to the lower cell — no
       shuffle);
    2. within-batch suppression: the IDENTICAL
       operators/similarity.semdedup keep rule the batch
       `semdedup_kmeans` / `semdedup_seeded_portable` keys run —
       a vector is dropped iff a LOWER-ID batch vector in its cell
       has 4dp cosine ≥ ``threshold`` (blocked-gemm pairs, exists-
       based, lowest id of every near-dup set survives);
    3. cross-batch suppression: batch survivors probe the admitted
       store pruned to the batch's OWN cells (partition filter — the
       IVF probe shape), 4dp cosine ≥ threshold against any admitted
       same-cell vector suppresses the batch vector (admitted state
       always wins: arrival order is the stream's total order, the
       same asymmetry as the MinHash sink);
    4. admitted vectors append to ``output_dir/epoch=<id>`` and the
       state store; the epoch ledger (:func:`_ledgered`) makes
       replays idempotent (retried epochs overwrite their own
       directories; the state read excludes the in-flight epoch so a
       replay cannot suppress a vector against its own half-written
       state).

    Scale shape: state grows ONE (id, vector) row per ADMITTED vector
    — the minimum any exact-memory semantic dedup needs (the
    approximate-memory variant would store SQ8-quantized vectors at
    4× less, at the cost of quantization-boundary false verdicts);
    the per-epoch probe is batch × admitted-in-matching-cells, the
    standard IVF trade — cell count sizes the probe, and a skewed
    cell is the same hazard (and fix: more cells / split the hot
    cell) as any IVF index. Suppression math is 4dp-rounded cosine in
    BOTH the within-batch and cross-batch legs, so stream decisions
    reconcile with a batch backfill over the same corpus
    (tests pin stream ≡ batch semdedup under ordered arrival).
    """
    from ..operators import caching, similarity

    def suppress_epoch(batch: DataFrame, epoch_id: int) -> None:
        # (1) route to cells with the batch keys' assignment kernel:
        # (id, cell, v), already the vecs store's columns
        clustered = caching.persist_tracked(
            similarity.ivf_assign(batch, centroids, vec_col, id_col, out_id=id_col)
        )
        # (2) within-batch: the batch semdedup keep rule verbatim
        batch_sup = (
            similarity.semdedup(clustered, "cell", "v", id_col, threshold)
            .filter(~F.col("kept"))
            .select(id_col)
        )
        survivors = caching.persist_tracked(
            clustered.join(batch_sup, id_col, "left_anti").select(id_col, "v", "cell")
        )
        # (3) cross-batch probe, pruned to the batch's own cells
        sup = batch_sup
        state = _probe_state(survivors, id_col, state_dir, "vecs", epoch_id)
        if state is not None:
            sup_state = (
                survivors.join(state.select(F.col("v").alias("__sv"), "cell"), "cell")
                .filter(
                    round_half_up(similarity.cosine(F.col("v"), F.col("__sv")), 4)
                    >= threshold
                )
                .select(id_col)
            )
            sup = sup.unionByName(sup_state)
        # (4) the admitted vectors extend the store
        _admit_and_extend(
            batch, sup, id_col, output_dir, state_dir, epoch_id,
            {"vecs": survivors},
        )

    return _start_ledgered(vecs, checkpoint_dir, ledger_dir, suppress_epoch)


_TYPES_STATE = T.StructType([T.StructField("types", T.ArrayType(T.StringType()))])

_TYPES_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_types", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def running_distinct_types(events: DataFrame) -> DataFrame:
    """Per-user distinct-event-type tracker via
    ``applyInPandasWithState``: state is one sorted distinct-type list
    per user, and each batch emits (user_id, n_types, n_events) with
    that batch's event count.

    ``state.update`` takes ONE tuple element per state-schema field —
    ``(sorted_list,)`` for the single array<string> field. Double
    wrapping ``([sorted_list],)`` stores fine on the first batch but
    corrupts the state: a RETURNING user's next ``state.get[0]`` is a
    list of lists and ``set()`` raises unhashable-type, killing the
    query (the two-batch streaming test pins this). Scale shape: one
    keyed shuffle to group by user, state O(distinct types) per user.
    """

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        seen = set(state.get[0]) if state.exists else set()
        n = 0
        for pdf in pdf_iter:
            seen |= set(pdf["event_type"])
            n += len(pdf)
        state.update((sorted(seen),))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_types": [len(seen)], "n_events": [n]}
        )

    return (
        events.select("user_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_TYPES_OUT,
            stateStructType=_TYPES_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def start_incremental_rollup(
    events: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    *,
    watermark: str = "15 minutes",
) -> StreamingQuery:
    """Continuously-maintained hourly rollup table — the
    lambda-architecture-elimination pattern: ONE streaming job keeps a
    queryable parquet aggregate current instead of a batch job
    periodically recomputing it.

    Mechanics: watermarked hourly window aggregate in UPDATE mode (a
    late-but-within-watermark event revises its hour), each microbatch
    emitting only the CHANGED (hour, type) keys; ``foreachBatch`` then
    rewrites exactly those keys' partitions via the partition-grain
    upsert (``sources.upsert_partitions`` — dynamic
    partitionOverwriteMode). THE INVARIANT THAT MAKES THIS CORRECT:
    the partition columns (day, hour, event_type) equal the
    aggregation key, so every emitted row fully determines — and
    fully replaces — its own partition. A coarser partition (just
    day) would be WIPED down to the microbatch's changed hours,
    silently dropping the untouched ones (measured, not
    hypothetical). Crash/replay safety comes from the same property:
    a replayed microbatch rewrites the same partitions with the same
    state-store contents (idempotent) — the guarantee of
    :func:`_ledgered` without a ledger, because the write unit IS the update
    unit.

    Readers see a plain partitioned parquet table
    (day=.../hour=.../event_type=...) with columns (window_start,
    n_events, sum_value) — no streaming awareness needed.
    """
    agg = windowed_event_counts(events, watermark=watermark).select(
        "window_start",
        "event_type",
        "n_events",
        "sum_value",
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        F.date_format("window_start", "HH").alias("hour"),
    )

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_partitions(batch_df, output_dir, ["day", "hour", "event_type"])

    return (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def psi_reference(
    df: DataFrame, value_col: str = "value", n_bins: int = 10
) -> "tuple[list[float], list[int]]":
    """Freeze a PSI reference from a batch frame: exact-percentile bin
    edges (2dp-rounded BEFORE the cut — operators/profiling.psi_drift's
    discipline) plus per-bin counts, returned as plain Python lists.

    This is the trained-state-shipped-as-literals pattern (same as the
    PQ/IVF codebooks): the reference is computed ONCE on the training
    window and embedded in the streaming plan as constants, so the
    monitor itself adds no scan of historical data to any microbatch.
    """
    from ..functions.rounding import round_half_up

    qs = [round(i / n_bins, 6) for i in range(1, n_bins)]
    # round_half_up, NOT F.round: the batch psi_drift rounds edges with
    # floor(x*100+0.5), and a percentile landing exactly on a rounding
    # boundary must freeze the SAME edge here or boundary rows shift
    # bins between the batch and streaming PSI paths
    edge_row = df.agg(
        *[
            round_half_up(F.expr(f"percentile({value_col}, {q})"), 2).alias(
                f"e{i}"
            )
            for i, q in enumerate(qs, start=1)
        ]
    ).collect()[0]
    edges = [float(edge_row[f"e{i}"]) for i in range(1, n_bins)]
    bin_expr = F.lit(1)
    for e in edges:
        bin_expr = bin_expr + F.when(F.col(value_col) > e, 1).otherwise(0)
    counts = {
        r["bin"]: r["c"]
        for r in df.select(bin_expr.cast("int").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    return edges, [int(counts.get(b, 0)) for b in range(1, n_bins + 1)]


def start_drift_monitor_sink(
    events: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    *,
    ref_edges: "list[float]",
    ref_counts: "list[int]",
    value_col: str = "value",
    alarm_threshold: float = 0.25,
) -> StreamingQuery:
    """Per-microbatch Population Stability Index monitor — the
    streaming form of ``orders_price_psi`` / profiling.psi_drift: each
    epoch's ``value`` distribution is binned against the FROZEN
    reference edges (broadcast literals, map-side expression) and its
    PSI vs the reference shares is appended to a queryable parquet
    metrics table, with an alarm flag at the standard 0.25
    "significant shift" band.

    Scale shape per epoch: one conditional-sum aggregate collapses the
    batch to ≤ n_bins rows; the PSI arithmetic runs on those ≤ 10
    numbers driver-side (metadata scale — loop-control math, not data
    movement). Exactly-once without a ledger: the metrics table is
    PARTITIONED BY epoch and written via the partition-grain upsert,
    so a replayed microbatch rewrites its own epoch partition with
    identical content (the start_incremental_rollup idempotence
    argument — the write unit IS the update unit).

    Output table: epoch=N partitions with (n_rows, psi, drifted).
    """
    import math as _math

    n_bins = len(ref_counts)
    if len(ref_edges) != n_bins - 1:
        raise ValueError(
            f"drift monitor: {n_bins} ref_counts needs exactly "
            f"{n_bins - 1} ref_edges, got {len(ref_edges)} — a "
            "swapped/truncated reference would silently mis-bin every "
            "microbatch"
        )
    n_ref = sum(ref_counts)
    half = 0.5 * n_bins
    ref_shares = [(c + 0.5) / (n_ref + half) for c in ref_counts]
    bin_expr = F.lit(1)
    for e in ref_edges:
        bin_expr = bin_expr + F.when(F.col(value_col) > F.lit(e), 1).otherwise(
            0
        )
    spark = events.sparkSession

    def score_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        rows = (
            batch_df.select(bin_expr.cast("int").alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        if not rows:
            return
        counts = {r["bin"]: r["c"] for r in rows}
        n_cur = sum(counts.values())
        psi = 0.0
        for b in range(1, n_bins + 1):
            pc = (counts.get(b, 0) + 0.5) / (n_cur + half)
            pr = ref_shares[b - 1]
            psi += (pc - pr) * _math.log(pc / pr)
        out = spark.createDataFrame(
            [(int(epoch_id), int(n_cur), round(psi, 6),
              bool(psi > alarm_threshold))],
            "epoch LONG, n_rows LONG, psi DOUBLE, drifted BOOLEAN",
        )
        upsert_partitions(out, output_dir, ["epoch"])

    return (
        events.writeStream.foreachBatch(score_epoch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
