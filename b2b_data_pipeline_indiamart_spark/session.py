"""SparkSession builder tuned for the engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same config block is
what we would ship to a 1000-executor cluster — AQE (runtime re-plan +
skew-join splitting), auto broadcast for dim tables, Arrow for the few
pandas-UDF operators, and shuffle partitions sized via env so the same
code scales from sf0.001 (32 partitions) to 100 TB (tens of thousands).
``fan_out`` is the one rule for widening an under-partitioned scan.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def default_driver_memory() -> str:
    """min(16g, half of physical RAM), in whole megabytes."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, ram_mb // 2)}m"


def default_cpus() -> str:
    """The cpus this process may run on (its scheduler affinity)."""
    return str(len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "b2b-pipeline-spark", master: str | None = None) -> SparkSession:
    """Create (or fetch) a tuned SparkSession.

    Every knob here is scale-motivated, not test-motivated:

    - AQE coalesces post-shuffle partitions and splits skewed ones at
      runtime, so a fixed ``shuffle.partitions`` misconfiguration does
      not sink a 100 TB run.
    - ``autoBroadcastJoinThreshold`` keeps dimension joins (region,
      nation, supplier, part) shuffle-free.
    - Arrow makes the pandas-UDF operators (vector math, multimodal
      decode, packing) batch-transfer instead of row-pickle.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", default_cpus())
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128MB")
        .config("spark.sql.session.timeZone", "UTC")
        # Up to 16g: local mode runs every task slot in the ONE driver
        # JVM and task retries are off (maxFailures=1), so a transient
        # GCLocker allocation failure in a heavy stage is fatal — at
        # 8g the sf10 wedge-closure stage died this way (round 13).
        # Capped at half of physical RAM. On a cluster this is per-executor.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def fan_out(df: DataFrame, key: str) -> DataFrame:
    """Hash ``df`` on ``key`` up to ``defaultParallelism`` partitions
    when it has fewer; otherwise return it unchanged.

    A single-file, single-row-group parquet scans as ONE task however
    many cores exist, serializing all work up to the first shuffle; a
    real multi-file dataset already has ≥ cores partitions and gets no
    extra shuffle. The repartition hashes ``key`` (a high-cardinality,
    never-NULL id) rather than going round-robin: every keyless
    ``repartition(n)`` first LOCALLY SORTS its input so task retries
    reproduce the same row→partition map
    (``spark.sql.execution.sortBeforeRepartition``), while hashing a
    deterministic key needs no such sort and is retry-stable by
    construction."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, df[key])
    return df


def conf_snapshot(spark: SparkSession, key: str) -> "str | None":
    """The conf's EXPLICIT session value, or None when it is unset and
    resolving to a default (SQLConf.contains checks the session's
    settings map — RuntimeConfig.get would hand back the resolved
    default and erase the set/unset distinction)."""
    if spark._jsparkSession.sessionState().conf().contains(key):
        return spark.conf.get(key)
    return None


@contextmanager
def scoped_confs(spark: SparkSession, *keys: str):
    """Restore ``keys`` on exit, on error too, to what they were on
    entry: set back what was set, unset what was unset. Writing back
    the RESOLVED value instead would pin a conf that was previously
    default-derived (AQE true; shuffle width from the session builder
    or cluster manager). Session-scoped: other queries submitted
    concurrently on the same session plan under the values set inside
    the block."""
    prev = {key: conf_snapshot(spark, key) for key in keys}
    try:
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
