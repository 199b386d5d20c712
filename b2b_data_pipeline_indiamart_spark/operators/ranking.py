"""Distributed total-order ranking: exact global ntile without a
single-reducer sort.

``Window.orderBy(...)`` with no ``partitionBy`` — the textbook way to
write ``ntile``/``row_number`` over a whole table — compiles to ONE
window task: every row shuffles to a single reducer and sorts there.
Fine at 150 k rows, a dead stage at 1.5 B (the 100 TB customer grain).

:func:`global_ntile` computes the *same* bucket assignment (exact, not
approximate — hash-identical to ``ntile(n) OVER (ORDER BY ...)`` for a
total order) with no global window node:

1. ``repartitionByRange(order_cols)`` — rows land in ascending key
   ranges across P partitions (P = ``spark.sql.shuffle.partitions``);
   the range exchange samples bounds in a separate tiny job, and equal
   keys always land in the same partition, so with a total order
   (callers must tie-break, e.g. on a unique key) global rank is
   independent of where the sampled bounds fall.
2. ``sortWithinPartitions(order_cols)`` + ``monotonically_increasing_id``
   — partition-local ranks with NO window and NO extra shuffle: after
   the in-partition sort the id counter increases in sort order, so
   ``id - min(id in partition)`` IS the 0-based local rank.
3. One tiny aggregate collects P ``(pid, count, min_id)`` rows to the
   driver — **metadata scale** (P = shuffle partitions, tens of
   thousands at most — loop-control collect, not data), cumulated into
   per-partition global offsets and broadcast back as a P-row join.
4. Map-only ntile arithmetic from the global rank and total count —
   integer ``DIV`` only, no doubles, no window.

Determinism: the step-2 frame is persisted (tracked — release via
``caching.release_cached()``) before the offsets collect so the join
reuses the same blocks; on block loss the recompute is deterministic
(range bounds come from seeded reservoir sampling over a deterministic
input, and the within-partition sort is total).

ntile semantics reproduced exactly (Spark and DuckDB agree): with c
rows in n buckets, the first ``c % n`` buckets get ``c // n + 1`` rows,
the rest ``c // n``; bucket of 1-based rank r is
``ceil(r / (base+1))`` in the "big bucket" prefix else
``rem + ceil((r - (base+1)*rem) / base)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import caching


def global_ntile(
    df: DataFrame, n: int, order_cols: list[Column | str], out_col: str
) -> DataFrame:
    """Exact ``ntile(n) OVER (ORDER BY order_cols)`` (int), distributed.

    Hash-identical to the window form for a total order; the plan has
    no window node at all (assertable: no empty-partition-spec Window
    anywhere). Cost: one range shuffle + one P-row collect + one
    broadcast join per call — every stage fans out across the cluster.
    """
    rank_col = f"__{out_col}_rank"
    ranked, total = _ranked(df, order_cols, rank_col)
    if total == 0:
        return ranked.drop(rank_col).withColumn(out_col, F.lit(None).cast("int"))
    base, rem = divmod(total, n)
    r = F.col(rank_col)
    if base == 0:
        # fewer rows than buckets: ntile assigns bucket = rank
        bucket = r.cast("int")
    else:
        # integer ceil-division via DIV keeps the arithmetic exact at
        # any scale (no double rounding at 2^53): ceil(a/b) = (a+b-1) DIV b
        cut = (base + 1) * rem
        big = F.expr(f"({rank_col} + {base}) DIV {base + 1}")
        small = F.expr(f"{rem} + ({rank_col} - {cut} + {base - 1}) DIV {base}")
        bucket = F.when(r <= F.lit(cut), big).otherwise(small).cast("int")
    return ranked.withColumn(out_col, bucket).drop(rank_col)


def _ranked(
    df: DataFrame, order_cols: list[Column | str], out_col: str
) -> tuple[DataFrame, int]:
    """Shared rank builder: returns (df + out_col global rank, total rows)."""
    spark = df.sparkSession
    base = caching.persist_tracked(
        df.repartitionByRange(*order_cols)
        .sortWithinPartitions(*order_cols)
        .select(
            "*",
            F.spark_partition_id().alias("__pid"),
            F.monotonically_increasing_id().alias("__mid"),
        )
    )
    # P rows of loop-control metadata — NOT a data-scale collect
    parts = sorted(
        base.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("c"), F.min("__mid").alias("mn"))
        .collect(),
        key=lambda row: row["__pid"],
    )
    total = sum(row["c"] for row in parts)
    if total == 0:
        return base.drop("__pid", "__mid").withColumn(
            out_col, F.lit(None).cast("long")
        ), 0
    offsets, acc = [], 0
    for row in parts:
        offsets.append((row["__pid"], acc, row["mn"]))
        acc += row["c"]
    off_df = spark.createDataFrame(
        offsets, "__pid INT, __off BIGINT, __mn BIGINT"
    )
    ranked = (
        base.join(F.broadcast(off_df), "__pid")
        .withColumn(out_col, F.col("__off") + (F.col("__mid") - F.col("__mn")) + 1)
        .drop("__pid", "__mid", "__off", "__mn")
    )
    return ranked, total


def global_cumsum(
    df: DataFrame,
    order_cols: list[Column | str],
    value_col: str,
    out_col: str = "cumsum",
) -> DataFrame:
    """Exact running sum over a global total order, no single-reducer
    window — the two-phase distributed prefix scan.

    Same skeleton as :func:`global_ntile`: range-repartition on
    ``order_cols`` (which must be a TOTAL order — tie-break with a
    unique key), sort within partitions, then a window partitioned by
    the physical partition id computes the LOCAL running sum (P
    parallel tasks, never one reducer). A P-row metadata collect turns
    per-partition totals into exclusive prefix offsets, broadcast back
    and added map-side. ``sum(x) OVER (ORDER BY …)`` semantics exactly,
    at any scale.

    Returns ``df``'s columns + ``out_col`` (same numeric type family as
    the input, summed as provided).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    base = caching.persist_tracked(
        df.repartitionByRange(*order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn("__local", F.sum(value_col).over(w))
    # the accumulator type follows the SPARK dtype of the windowed sum
    # (not a sniff of collected Python values — a Decimal column's sums
    # must accumulate as Decimal and the offsets frame must carry the
    # same decimal type, or the join-back addition silently widens)
    sum_type = dict(local.dtypes)["__local"]
    parts = sorted(
        base.groupBy("__pid").agg(F.sum(value_col).alias("t")).collect(),
        key=lambda row: row["__pid"],
    )
    if not parts:
        # typed NULL: an untyped (void) column breaks parquet writes
        # and unionByName with the non-empty path's numeric output
        return base.drop("__pid").withColumn(
            out_col, F.lit(None).cast(sum_type)
        )
    if sum_type in ("double", "float"):
        zero = 0.0
    elif sum_type.startswith("decimal"):
        from decimal import Decimal

        zero = Decimal(0)
    else:
        zero = 0
    offsets, acc = [], zero
    for row in parts:
        offsets.append((row["__pid"], acc))
        acc += row["t"] or zero
    off_df = spark.createDataFrame(offsets, f"__pid INT, __off {sum_type}")
    return (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn(out_col, F.col("__local") + F.col("__off"))
        .drop("__pid", "__local", "__off")
    )


def global_cummin(
    df: DataFrame,
    order_cols: list[Column | str],
    value_col: str,
    out_col: str = "cummin",
) -> DataFrame:
    """Exact running MIN over a global total order — the prefix-min
    sibling of :func:`global_cumsum`, same two-phase distributed scan
    (min is associative, so the partition-offset trick applies
    verbatim with ``least`` in place of ``+``).

    Range-repartition on ``order_cols`` (must be a TOTAL order), local
    running min per partition via a __pid-partitioned window (P
    parallel tasks), then a P-row metadata collect turns per-partition
    minima into exclusive prefix-min offsets (NULL for the first
    partition — ``least`` is NULL-tolerant only via coalesce, handled
    below), broadcast back and combined map-side.
    ``min(x) OVER (ORDER BY …)`` semantics exactly, at any scale.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    base = caching.persist_tracked(
        df.repartitionByRange(*order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn("__local", F.min(value_col).over(w))
    min_type = dict(local.dtypes)["__local"]
    parts = sorted(
        base.groupBy("__pid").agg(F.min(value_col).alias("t")).collect(),
        key=lambda row: row["__pid"],
    )
    if not parts:
        return base.drop("__pid").withColumn(
            out_col, F.lit(None).cast(min_type)
        )
    offsets, acc = [], None
    for row in parts:
        offsets.append((row["__pid"], acc))
        t = row["t"]
        if t is not None:
            acc = t if acc is None else min(acc, t)
    off_df = spark.createDataFrame(offsets, f"__pid INT, __off {min_type}")
    return (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn(
            out_col,
            F.when(F.col("__off").isNull(), F.col("__local")).otherwise(
                F.least(F.col("__local"), F.col("__off"))
            ),
        )
        .drop("__pid", "__local", "__off")
    )


def global_ntile_many(
    df: DataFrame,
    n: int,
    key_col: str,
    specs: dict[str, list[Column | str]],
    narrow: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Several independent ``global_ntile`` columns over the SAME
    input, built CONCURRENTLY: one driver thread per score.

    Each :func:`global_ntile` is two short Spark jobs (the range
    exchange's bound sampling + the P-row offsets collect) whose cost
    at moderate scale is dominated by fixed job latency, not data.
    Chaining k scores serializes 2k jobs; Spark's scheduler accepts
    jobs from multiple driver threads, so k data-independent scores
    overlap their jobs (measured 4.2 → 3.4-3.9 s for customer_rfm's
    three quartiles at sf0.1 on local[32] — a ~15-20% cut; the floor
    is the per-score range shuffle itself, which stays serial within
    each score). The join-back costs one extra shuffle vs the chained
    form but the range exchanges carry 2-3 narrow columns instead of
    the full accumulating row.

    Each score is computed over a NARROW (key, order-columns)
    projection and joined back on ``key_col`` — the range shuffles
    carry 2-3 columns, never the full row. The projection is derived
    automatically from the spec's string-typed order columns;
    ``narrow`` (score name → source columns) only needs an entry when
    a spec orders by a Column EXPRESSION whose inputs the derivation
    can't see — and a spec with expression order-cols and no ``narrow``
    entry falls back to the full ``df`` (correct, just wider) instead
    of failing at plan time. Bucket values are identical to the
    chained form: same input rows, same total orders, same arithmetic.

    ``specs``: score column name → order_cols (must each be a TOTAL
    order, e.g. tie-broken by ``key_col``). ``key_col`` must be a
    UNIQUE grain key (it is the join-back key; duplicates would
    cross-multiply). Null keys are preserved: the join-back uses
    null-safe equality, so a null-key grain row keeps its buckets
    exactly as the chained form would.
    """
    from concurrent.futures import ThreadPoolExecutor

    if not specs:
        return df
    narrow = narrow or {}

    def build(item):
        out_col, order_cols = item
        if out_col in narrow:
            cols = [key_col, *narrow[out_col]]
        elif all(isinstance(c, str) for c in order_cols):
            cols = [key_col, *order_cols]
        else:
            cols = list(df.columns)  # expression order-col, no mapping
        proj = df.select(*dict.fromkeys(cols))  # de-dup, keep order
        scored = global_ntile(proj, n, order_cols, out_col)
        return scored.select(
            F.col(key_col).alias(f"__k_{out_col}"), out_col
        )

    with ThreadPoolExecutor(max_workers=len(specs)) as pool:
        frames = list(pool.map(build, specs.items()))
    out = df
    for fr, out_col in zip(frames, specs):
        out = out.join(
            fr, F.col(key_col).eqNullSafe(F.col(f"__k_{out_col}"))
        ).drop(f"__k_{out_col}")
    return out
