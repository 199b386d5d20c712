"""CSV source with header normalization.

Reference parity: etl.py:228-254 (``load_raw_data``) reads a raw CSV,
snake_cases every header (etl.py:92-96 ``to_snake_case``), and
backfills a missing/empty ``scraped_at`` column from the file's
modified time. Here the read itself is a distributed Spark CSV scan;
only the header rename (pure metadata) and the mtime lookup touch the
driver, so the source scales to a directory of thousands of files.
"""

from __future__ import annotations

import os
import re
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def to_snake_case(name: str) -> str:
    """Header → snake_case: strip, drop punctuation, spaces → ``_``.

    Matches etl.py:92-96 exactly (same regex classes) so a CSV produced
    for the reference pipeline normalizes to identical column names.
    Also removes a UTF-8 BOM if the file was written ``utf-8-sig``.
    """
    name = str(name).strip().lstrip("﻿")
    name = re.sub(r"[^\w\s]", "", name)
    name = re.sub(r"\s+", "_", name)
    return name.lower()


def _file_mtime_iso(path: str) -> str:
    try:
        ts = os.path.getmtime(path)
        return datetime.fromtimestamp(ts, tz=timezone.utc).isoformat()
    except OSError:
        return ""


def read_csv_normalized(
    spark: SparkSession,
    path: str,
    *,
    scraped_at_col: str = "scraped_at",
) -> DataFrame:
    """Read a CSV file/dir with snake_cased headers.

    ``scraped_at`` backfill parity (etl.py:243-252): if the column is
    absent, add it as a constant — the input file's UTC mtime in
    ISO-8601. (The reference also backfills when the column exists but
    is entirely null; checking that would force an extra full scan, so
    the distributed version fills nulls per-row with ``coalesce``
    instead — same downstream effect, one pass.)
    """
    df = (
        spark.read.option("header", "true")
        .option("inferSchema", "true")
        .option("encoding", "UTF-8")
        .csv(path)
    )
    renamed = df.toDF(*[to_snake_case(c) for c in df.columns])
    fallback = _file_mtime_iso(path)
    if scraped_at_col not in renamed.columns:
        renamed = renamed.withColumn(scraped_at_col, F.lit(fallback))
    else:
        renamed = renamed.withColumn(
            scraped_at_col,
            F.coalesce(F.col(scraped_at_col).cast("string"), F.lit(fallback)),
        )
    return renamed
