"""Table catalog over a testdata scale-factor directory.

The driver's tables (TPC-H-ish star schema + events/documents/embeddings)
live as one parquet per table under ``<sf_dir>/``. ``load`` returns lazy
DataFrames so Catalyst sees the parquet scan directly — predicate pushdown
and column pruning reach the file reader (check ``PushedFilters`` /
``ReadSchema`` in ``.explain``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .session import fan_out
from .sources.sinks import hadoop_path

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tables joined on the dim side of star joins. region/nation are FIXED
# size (5 / 25 rows at every SF) and may always broadcast; customer /
# supplier / part are SF-PROPORTIONAL (SF·150k / SF·10k / SF·200k rows)
# and must only broadcast behind the size gate below — at the 100 TB
# target (~SF 100k) customer alone is ~15 B rows, and a forced
# ``F.broadcast()`` hint overrides both autoBroadcastJoinThreshold and
# AQE, turning "slower shuffle join" into "guaranteed executor OOM".
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})
FIXED_DIM_TABLES = frozenset({"region", "nation"})

# On-disk cap for the size-gated broadcast hint. Spark's own planner
# stat for a parquet scan is the file footprint (fileCompressionFactor
# defaults to 1.0), so gating the HINT at the same number the session
# uses for spark.sql.autoBroadcastJoinThreshold keeps hinted and
# unhinted plans consistent: under the cap the hint merely documents
# intent; over it the hint disappears and threshold + AQE pick the
# join — shuffle on the key is the scale-safe default.
BROADCAST_CAP_BYTES = 64 << 20

_disk_bytes_cache: dict[str, int] = {}
#: inferred schema per (path, length, modification time); see _read_parquet
_schema_cache: dict[tuple[str, int, int], StructType] = {}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table not in TABLES:
        raise KeyError(f"unknown table {table!r}; expected one of {TABLES}")
    _right_size_shuffle(spark)
    # Pin the session timezone in the shared load preamble — not inside
    # any one table's loader — so determinism never depends on WHICH
    # table a session happens to read first (ADVICE r5: the pin used to
    # live in _load_events only, leaving timestamp queries on sessions
    # that never loaded events under the host JVM default). Runtime
    # conf, same pattern as _right_size_shuffle: applied to whatever
    # session the driver brings; session.get_spark sets the same value
    # at build time so this is a no-op on our own sessions.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{table}.parquet")
    if table == "events":
        return _load_events(spark, path)
    return _read_parquet(spark, path)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per
    version of the file: each inference is a one-task Spark job
    (~110 ms median on 4 vCPU, against ~23 ms for a read given its
    schema), and one registry_stream pass loads 10 tables 21 times.
    The cache key holds the path's length and modification time (one
    Hadoop metadata call each, no job), so a table rewritten in place is
    inferred afresh."""
    fs, jpath = hadoop_path(spark, path)
    key = (
        path,
        int(fs.getContentSummary(jpath).getLength()),
        int(fs.getFileStatus(jpath).getModificationTime()),
    )
    schema = _schema_cache.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _schema_cache[key] = df.schema
    return df


def table_disk_bytes(spark: SparkSession, sf_dir: str, table: str) -> int:
    """On-disk footprint of ``<sf_dir>/<table>.parquet``, via the Hadoop
    FileSystem API (metadata only — no Spark job; works on any
    supported URI, same contract as compact_parquet / the streaming
    epoch ledger). Cached per path: the testdata is immutable for a
    session, and the cache keeps the gate free across the registry,
    where the same dims load thousands of times."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    cached = _disk_bytes_cache.get(path)
    if cached is not None:
        return cached
    fs, jpath = hadoop_path(spark, path)
    size = int(fs.getContentSummary(jpath).getLength())
    _disk_bytes_cache[path] = size
    return size


def gate_broadcast(
    df: DataFrame, spark: SparkSession, sf_dir: str, base_table: str
) -> DataFrame:
    """Size-gated broadcast hint for a frame whose row count is bounded
    by ``base_table`` (the frame may filter / project / dim-join the
    base, never fact-join it, so the base's footprint is an upper
    bound). Under ``BROADCAST_CAP_BYTES`` the hint is applied — at
    bench SFs this reproduces the designed broadcast plans exactly;
    over the cap the frame is returned unhinted and the 64 MB
    threshold + AQE decide, which at the 100 TB target means a shuffle
    join on the key instead of an executor-OOM broadcast. The gate is
    a filesystem-metadata read, not a count job — the same "cheap
    size gate, scale-safe fallback" pattern as PageRank's 2M-node
    broadcast-frontier cap (operators/graph.py)."""
    if (
        base_table in FIXED_DIM_TABLES
        or table_disk_bytes(spark, sf_dir, base_table) <= BROADCAST_CAP_BYTES
    ):
        from pyspark.sql import functions as F

        return F.broadcast(df)
    return df


def load_dim(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """``load`` + size-gated broadcast hint (see ``gate_broadcast``)."""
    return gate_broadcast(load(spark, sf_dir, table), spark, sf_dir, table)


def _right_size_shuffle(spark: SparkSession) -> None:
    """On a session still carrying Spark's out-of-the-box 200 shuffle
    partitions (the grading driver hands us a vanilla session), pin
    shuffle parallelism to the machine instead.

    AQE normally papers over the 200 default by coalescing small
    shuffles at runtime — but NOT under ``persist()``
    (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is
    false by default) or eager ``localCheckpoint``, both of which the
    iterative/cached operators (dedup_clusters, minhash LSH) rely on:
    measured at sf0.01 on a vanilla local[8] session, dedup_clusters
    spends ~3× its runtime scheduling 200 near-empty tasks per cached
    stage. Only the untouched default is overridden — any deliberate
    setting (e.g. session.get_spark's CPU-count, or a real cluster
    config) is left alone; like the nanos-timestamp conf in
    ``_load_events``, this is a runtime conf applied to whatever
    session the driver brings."""
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism
        )


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Normalize ``ts`` to a plain TIMESTAMP whatever the parquet says.

    The generated events table has shipped in two physical flavors:
    TIMESTAMP(NANOS), which Spark's reader rejects outright (read the
    nanos as long via runtime conf, divide down to micros), and
    TIMESTAMP(MICROS) with ``isAdjustedToUTC=false``, which Spark maps
    to TIMESTAMP_NTZ — a type ``unix_micros``/``unix_millis`` and the
    temporal operators refuse. Both land here as session-local
    TIMESTAMP; the container/session timezone is UTC, so the wall-clock
    values are preserved exactly (and match DuckDB's naive reading).
    Sub-microsecond precision is dropped, matching how every downstream
    temporal operator (hour buckets, ms gaps) consumes it.

    The session timezone matters here: both the NTZ→timestamp cast and
    every downstream epoch/bucket function (``unix_micros``, ``hour``,
    ``window``) interpret wall-clock values in the *session* timezone,
    and DuckDB's naive reading is effectively UTC — on a non-UTC host
    with a vanilla driver session the results would silently shift by
    the UTC offset. The UTC pin lives in the shared ``load`` preamble
    (every table, any load order — ADVICE r4/r5)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, path)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


#: high-cardinality, never-NULL key per table for load_parallel's
#: hash repartition — one for every entry of TABLES (the table's id column; l_orderkey is non-unique
#: but dense and high-cardinality, which is all hash spread needs)
_PARALLEL_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def load_parallel(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """``load`` + ``session.fan_out`` on the table id, for fact-side
    scans feeding compute-heavy plans. Catalyst still pushes filters
    through the repartition into the scan. Keep plain ``load`` for
    scan→aggregate plans where map-side partial aggregation makes an
    extra shuffle a pure loss.

    Measured against a plain ``load`` on 4 cores, 5 interleaved warm
    runs per side, every key's rows hash-identical on both sides: at
    sf0.1 the fan-out wins on 13 of the 19 keys that reach it, by
    1.15–1.73× (etl_pipeline_e2e 3.66 → 2.53 s, docs_cdc_dedup
    2.45 → 1.42 s, docs_unigram_logprob 2.76 → 1.63 s), and the other
    6 are neutral (0.93–1.09×). At sf0.01 it is mixed: plain ``load``
    is up to 14% faster on some keys, while docs_cdc_dedup is 1.84×
    slower without the fan-out. sf1 and sf10 are unmeasured.
    """
    return fan_out(load(spark, sf_dir, table), _PARALLEL_KEYS[table])
