"""Tracked persists: bounded cache lifetime for operator intermediates.

The dedup/similarity operators persist intermediates (LSH band tables,
signature tables, candidate-pair lists) because their plans consume
them several times. Per-query that is correct; in a LONG-LIVED session
composing many operators the persisted blocks would otherwise accrete
until the storage pool evicts under pressure. Every internal persist
therefore goes through :func:`persist_tracked`, and lifetimes are
released two ways:

- **Scoped** (:func:`scope`): an operator that materializes its
  expensive stages eagerly (``dedup_clusters`` — the
  connected-components loop runs during construction and its output is
  ``localCheckpoint``-truncated, so it no longer references the
  upstream caches) releases those intermediates before returning, and
  an exception inside the block releases them too. The streaming
  suppress sinks scope each micro-batch the same way.
- **Session** (:func:`release_cached`): operators whose returned plan
  still reads the caches lazily (``ngram_jaccard_verified``) cannot
  release before the caller's action; the caller invokes
  ``release_cached()`` once results are materialized/written. The
  registry tests and ``bench.py`` do this between queries.

At cluster scale the same role is played by writing stage tables to
parquet; in-session caching is the local[.] analogue.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist()`` registered for later release."""
    df = df.persist()
    _TRACKED.append(df)
    return df


@contextmanager
def scope():
    """Unpersist, on leaving the block (by return or by exception),
    every DataFrame :func:`persist_tracked` registered inside it;
    persists tracked before the block stay.

    Safe only when nothing returned from the block still lazily reads
    those caches — the eager operators checkpoint-truncate their output
    lineage (or write it) before the block ends.
    """
    pos = len(_TRACKED)
    try:
        yield
    finally:
        release_from(pos)


def release_from(pos: int) -> int:
    """Unpersist every tracked DataFrame registered at or after ``pos``."""
    n = 0
    while len(_TRACKED) > pos:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped; nothing to release
    return n


def release_cached() -> int:
    """Unpersist ALL tracked intermediates (call after materializing).

    Also releases tracked ``localCheckpoint`` RDDs (see
    :func:`track_new_rdd_ids`) — after which DataFrames returned by the
    checkpointing operators can no longer be re-executed; release only
    once their results are collected/written.
    """
    n = release_from(0)
    while _TRACKED_RDD_IDS:
        spark, ids = _TRACKED_RDD_IDS.pop()
        try:
            unpersist_rdd_ids(spark, ids)
            n += len(ids)
        except Exception:
            pass
    return n


#: (spark, rdd-id set) pairs for localCheckpoint blocks (no DataFrame
#: handle exists for those — localCheckpoint persists an internal RDD)
_TRACKED_RDD_IDS: list[tuple] = []


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of currently persisted RDDs (cached DataFrames AND
    localCheckpoint blocks) in the session's SparkContext."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def unpersist_rdd_ids(spark, ids: set[int]) -> None:
    """Unpersist persisted RDDs by id (the only handle available for
    ``localCheckpoint`` blocks). Data is unrecoverable afterwards —
    checkpoint lineage is truncated by design. Goes through
    ``SparkContext.unpersistRDD``, which frees the same blocks as
    ``RDD.unpersist()`` without its per-RDD "was locally checkpointed
    ... cannot be recomputed" WARN on every deliberate release."""
    sc = spark.sparkContext._jsc.sc()
    for rdd_id in ids & persistent_rdd_ids(spark):
        sc.unpersistRDD(rdd_id, False)


def track_rdd_ids(spark, ids: set[int]) -> None:
    """Register localCheckpoint RDD ids for :func:`release_cached`."""
    if ids:
        _TRACKED_RDD_IDS.append((spark, set(ids)))
