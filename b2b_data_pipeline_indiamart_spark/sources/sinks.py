"""Sinks: parquet (partitioned), CSV, SQLite, JDBC.

Reference parity: etl.py:411-435 (``export_outputs``) writes the
curated CSV with ``na_rep="NaN"`` in ``utf-8-sig`` plus an optional
SQLite table. At 100 TB the real sinks are partitioned parquet and a
warehouse JDBC write; CSV/SQLite are kept for drop-in parity with
the reference's outputs and are documented as small-result sinks.
"""

from __future__ import annotations

import sqlite3
from typing import Sequence

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """The scale sink. ``partition_by`` (e.g. region / date) gives
    downstream readers partition pruning; writes stay fully parallel —
    one file per task per partition value."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: Sequence[str],
    *,
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table for co-located joins.

    Two tables bucketed on the same key with the same bucket count
    join WITHOUT an exchange on either side — the shuffle is paid once
    at write time and amortized over every subsequent join/aggregation
    on that key. This is the stage-table layout for the repeated
    fact⋈fact joins (orders⋈lineitem on orderkey) at 100 TB; `sortBy`
    additionally pre-sorts within buckets so sort-merge joins skip the
    sort. Registered through the session catalog (`saveAsTable`) —
    bucketing metadata lives in the catalog, not the files.
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_csv(
    df: DataFrame,
    path: str,
    *,
    na_rep: str = "NaN",
    single_file: bool = False,
    mode: str = "overwrite",
    encoding: str = "utf-8",
) -> None:
    """CSV export with literal ``na_rep`` for nulls (etl.py:429-430
    writes ``na_rep="NaN"`` "so you can SEE missing values").
    ``single_file`` coalesces to one partition — only for curated /
    report-sized outputs; the default keeps one file per partition.

    ``encoding="utf-8-sig"`` matches the reference's Excel-friendly
    export (etl.py:429): the JVM has no BOM-writing charset, so the
    files are written UTF-8 and the three-byte BOM is prepended to each
    part file afterwards — a per-file O(1) driver-side touch-up meant
    for the same curated/report-sized outputs as ``single_file``.
    """
    bom = encoding.lower() in ("utf-8-sig", "utf_8_sig")
    out = df.coalesce(1) if single_file else df
    (
        out.write.mode(mode)
        .option("header", "true")
        .option("nullValue", na_rep)
        .option("emptyValue", na_rep)
        .option("encoding", "UTF-8" if bom else encoding)
        .csv(path)
    )
    if bom:
        import os

        for name in os.listdir(path):
            if not name.endswith(".csv"):
                continue
            full = os.path.join(path, name)
            with open(full, "rb") as f:
                data = f.read()
            if not data.startswith(b"\xef\xbb\xbf"):
                with open(full, "wb") as f:
                    f.write(b"\xef\xbb\xbf" + data)


def write_sqlite(
    df: DataFrame,
    db_path: str,
    table: str,
    *,
    if_exists: str = "replace",
    batch_size: int = 10_000,
) -> int:
    """SQLite sink (etl.py:430-434 ``to_sql(..., if_exists="replace")``
    parity). Returns rows written.

    SQLite is a single-file, single-writer store, so this is inherently
    a driver-side sink — it streams partitions through
    ``toLocalIterator`` (never materializes the whole DataFrame on the
    driver) and inserts in batches. Use it for curated/aggregated
    outputs like the reference does; the 100 TB path is
    ``df.write.jdbc`` against a real warehouse or :func:`write_parquet`.
    """
    if if_exists not in ("replace", "append", "fail"):
        raise ValueError(f"if_exists must be replace|append|fail, got {if_exists!r}")
    cols = df.columns
    qcols = ", ".join(f'"{c}"' for c in cols)
    placeholders = ", ".join("?" for _ in cols)
    conn = sqlite3.connect(db_path)
    try:
        cur = conn.cursor()
        exists = cur.execute(
            "SELECT 1 FROM sqlite_master WHERE type='table' AND name=?", (table,)
        ).fetchone()
        if exists and if_exists == "fail":
            raise ValueError(f"table {table!r} already exists")
        if if_exists == "replace":
            cur.execute(f'DROP TABLE IF EXISTS "{table}"')
            exists = None
        if not exists:
            col_defs = ", ".join(f'"{c}"' for c in cols)
            cur.execute(f'CREATE TABLE "{table}" ({col_defs})')
        n = 0
        batch: list[tuple] = []
        insert = f'INSERT INTO "{table}" ({qcols}) VALUES ({placeholders})'
        for row in df.toLocalIterator():
            batch.append(tuple(row))
            if len(batch) >= batch_size:
                cur.executemany(insert, batch)
                n += len(batch)
                batch = []
        if batch:
            cur.executemany(insert, batch)
            n += len(batch)
        conn.commit()
        return n
    finally:
        conn.close()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    num_partitions: int | None = None,
    batch_size: int = 10_000,
    options: "dict[str, str] | None" = None,
) -> None:
    """Warehouse sink — the 100 TB path :func:`write_sqlite` points to.

    Partition-parallel JDBC: every executor partition opens its own
    connection and streams ``batch_size``-row inserts, so write
    throughput scales with partitions. ``num_partitions`` caps the
    fan-in to respect the warehouse's connection budget (Spark's
    ``numPartitions`` JDBC option coalesces before writing — no extra
    shuffle). Typical call::

        write_jdbc(df, "jdbc:postgresql://wh:5432/analytics", "listings",
                   num_partitions=64,
                   options={"user": "etl", "password": "...",
                            "isolationLevel": "NONE"})

    Requires the target's JDBC driver jar on the executor classpath
    (``spark.jars`` / ``--packages``); this container ships none, so
    the unit test covers the option plumbing and the missing-driver
    error path.
    """
    writer = (
        df.write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
    )
    if num_partitions is not None:
        writer = writer.option("numPartitions", str(num_partitions))
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.save()


def upsert_partitions(
    df: DataFrame, path: str, partition_by: Sequence[str]
) -> None:
    """Partition-grain upsert without a table format: overwrite ONLY
    the partitions present in ``df``, leave every other partition of
    the existing dataset untouched (Spark's
    ``partitionOverwriteMode=dynamic``).

    This is the idempotent incremental-load pattern for parquet lakes
    with no Delta/Iceberg layer: a daily re-run replaces exactly its
    own date partitions, so late-arriving corrections reprocess one
    partition instead of rewriting the dataset, and a crashed job can
    simply re-run. The dynamic mode rides as a per-write
    DataFrameWriter option (thread-safe — never a session-conf
    toggle); static overwrite (wipe the whole path) remains the
    default for full rebuilds via :func:`write_parquet`.
    """
    # per-WRITE option, not the session conf: a session-global toggle
    # races any concurrent write on the same SparkSession (another
    # thread's overwrite between our set and restore would turn
    # static and wipe untouched partitions — the exact failure this
    # function exists to prevent). The DataFrameWriter option scopes
    # the mode to this write alone.
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    *,
    target_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order clustered parquet write: multi-column data skipping
    without a table format.

    Partitioning prunes on ONE coarse column; clustering makes the
    parquet row-group/file MIN-MAX stats tight on SEVERAL columns at
    once, so a reader filtering on any of them skips most files. Each
    clustering column is linearly scaled to ``min(16, 63 // n)`` bits
    against its global min/max (one tiny aggregate, folded in as
    literals — the per-column width shrinks as columns are added so
    every interleaved bit position stays inside the 63 non-sign bits
    of the long; Spark's shiftleft masks shift counts mod 64, so an
    unguarded 16-bit × 5-column interleave would silently wrap the
    high bits of later columns onto the LOW z positions and destroy
    the ordering). The bit patterns are Morton-interleaved into a
    single z-value — built entirely from Catalyst shift/mask
    expressions, no UDF — and the frame is range-partitioned + sorted
    on it, giving every output file a compact hyper-rectangle of the
    value space.

    Accepted column types: numeric, date (days scale), timestamp
    (microseconds scale). Anything else (strings…) has no meaningful
    linear order for min/max skipping — rejected with a ValueError
    rather than silently producing a useless layout. Linear scaling is
    the simple-and-honest variant (heavy skew compresses into few
    codes; the fix at scale is rank-based scaling via approxQuantile
    cut points — same interleave downstream). NULLs scale to 0,
    degenerate (min == max) columns contribute a constant.
    Best-effort layout only: results are identical under any layout,
    readers need no special handling.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = list(cluster_cols)
    if not cols:
        raise ValueError("write_clustered: need at least one cluster column")
    n = len(cols)
    bits = min(16, 63 // n)
    if bits < 4:
        raise ValueError(
            f"write_clustered: {n} cluster columns leave only {bits} bits "
            "per column — too coarse to order on; cluster on fewer columns"
        )
    nums = {}
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, T.DateType):
            nums[c] = F.unix_date(F.col(c)).cast("double")
        elif isinstance(dt, T.TimestampType):
            nums[c] = F.unix_micros(F.col(c)).cast("double")
        elif isinstance(dt, T.NumericType):
            nums[c] = F.col(c).cast("double")
        else:
            raise ValueError(
                f"write_clustered: column {c!r} has type "
                f"{dt.simpleString()} — only numeric/date/timestamp "
                "columns have a linear order min/max skipping can use"
            )
    bounds = df.agg(
        *[F.min(nums[c]).alias(f"mn_{c}") for c in cols],
        *[F.max(nums[c]).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    scaled = []
    for c in cols:
        mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
        if mn is None or mx is None or mx == mn:
            scaled.append(F.lit(0).cast("long"))
            continue
        span = float(mx) - float(mn)
        s = (
            (F.coalesce(nums[c], F.lit(float(mn))) - float(mn))
            / span
            * ((1 << bits) - 1)
        )
        scaled.append(F.round(s, 0).cast("long"))
    z = F.lit(0).cast("long")
    for i, s in enumerate(scaled):
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(s, b).bitwiseAND(F.lit(1)), b * n + i)
            )
    zdf = df.withColumn("__z", z)
    parts = target_files or df.rdd.getNumPartitions()
    (
        zdf.repartitionByRange(parts, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def hadoop_path(spark, path: str):
    """``(FileSystem, Path)`` for ``path`` through the Hadoop API, so
    existence checks, renames and marker files work on any URI Spark
    writes to (``s3a://``, ``abfs://``, ``hdfs://``, ``file:``) — a
    plain ``os.path`` check would never see an object-store path."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


def recover_dir(spark, cur: str, nxt: str, aside: str) -> bool:
    """Crash recovery for :func:`swap_dir`, run before reading ``cur``.

    The swap never deletes the only copy, so a run that died mid-swap
    left a complete copy at ``cur``, ``nxt`` or ``aside``. A missing
    ``cur`` is restored from ``nxt`` (fully written before any rename
    started, so it is the newer copy), else from ``aside``. Returns
    whether ``cur`` exists afterwards.
    """
    fs, cur_p = hadoop_path(spark, cur)
    if not fs.exists(cur_p):
        for src in (nxt, aside):
            _, src_p = hadoop_path(spark, src)
            if fs.exists(src_p):
                fs.rename(src_p, cur_p)
                break
    return fs.exists(cur_p)


def swap_dir(spark, cur: str, nxt: str, aside: str) -> None:
    """Replace directory ``cur`` with the fully written ``nxt`` so a
    complete copy is reachable at every step: park ``cur`` at
    ``aside``, rename ``nxt`` in, then delete the parked copy. If the
    second rename fails the original is put back and IOError raised.

    NOT atomic on object stores (a rename is copy + delete there): run
    it from the single owner of the path, in the ingestion pause,
    exactly like Delta/Iceberg's OPTIMIZE asks. Pair it with
    :func:`recover_dir` at the start of the next run.
    """
    fs, cur_p = hadoop_path(spark, cur)
    _, nxt_p = hadoop_path(spark, nxt)
    _, aside_p = hadoop_path(spark, aside)
    if fs.exists(aside_p):  # superseded copy from a prior run
        fs.delete(aside_p, True)
    if fs.exists(cur_p) and not fs.rename(cur_p, aside_p):
        raise IOError(f"could not park {cur} aside")
    if not fs.rename(nxt_p, cur_p):
        if fs.exists(aside_p):
            fs.rename(aside_p, cur_p)
        raise IOError(f"rename {nxt} -> {cur} failed; original restored")
    fs.delete(aside_p, True)


def compact_parquet(
    spark,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction for a parquet directory — the lake
    maintenance job every streaming/incremental sink eventually needs
    (each microbatch/task leaves a file; a million 100 KB files make
    listing and footer reads the bottleneck long before data volume
    does). Rewrites the dataset into ``ceil(total_bytes /
    target_file_bytes)`` files and returns the new file count.

    Mechanics: recover from a crashed earlier run
    (:func:`recover_dir`), read, repartition to the target count,
    write to a ``_compacting`` sibling, then swap it in with the
    park-aside sequence of :func:`swap_dir` (old tree parked at
    ``_pre_compact`` until the new one is in place; not atomic on
    object stores — see there). Row-content equality is the test's
    contract; ordering is not.
    Partitioned lakes: this rewrites the tree UNPARTITIONED — compact
    a partitioned dataset per partition directory (point ``path`` at
    the partition), or recombine with :func:`upsert_partitions`.
    """
    import math

    tmp = path.rstrip("/") + "_compacting"
    aside = path.rstrip("/") + "_pre_compact"
    if not recover_dir(spark, path, tmp, aside):
        raise IOError(f"compact_parquet: {path} does not exist")
    fs, src_path = hadoop_path(spark, path)
    total = fs.getContentSummary(src_path).getLength()
    n_files = max(1, math.ceil(total / target_file_bytes))
    # overwrite mode replaces any stale/partial tmp from a prior crash
    spark.read.parquet(path).repartition(n_files).write.mode("overwrite").parquet(tmp)
    swap_dir(spark, path, tmp, aside)
    return n_files

