"""JSONL / binary-file document sources for training-data ingestion.

Raw LLM training corpora arrive as line-delimited JSON (one doc per
line, often gz-compressed) and as directories of raw media files.
Both readers below are thin, deliberately boring wrappers over Spark's
native distributed scans — the value is in the contracts:

- ``read_jsonl_documents`` REQUIRES an explicit schema. ``spark.read
  .json`` without one triggers a full inference pre-scan (an extra
  pass over 100 TB before any real work) and silently widens types
  from whatever it sampled; with the schema stated, the read is a
  single pass, malformed lines land in ``_corrupt_record`` instead of
  poisoning a column type, and column pruning reaches the scan.
- ``read_binary_documents`` maps a directory of media files onto the
  multimodal table layout (operators/multimodal.py): one row per
  file, payload as ``binary``, path/length metadata — Spark's
  ``binaryFile`` source handles distribution and pathGlobFilter
  pushdown. Pair it with ``multimodal.extract_media_features`` for
  the decode tiers (alias ``doc_id`` to ``media_id`` and map the
  extension ``kind`` to ``image``/``audio``/``video`` first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: the documents-table contract (TESTDATA.md): explicit so a JSONL
#: corpus lands with identical schema to the parquet test tables.
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_jsonl_documents(
    spark: SparkSession,
    path: str,
    schema: T.StructType = DOCUMENTS_SCHEMA,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Distributed JSONL scan with a stated schema (no inference pass).

    Malformed lines are captured per-row in ``_corrupt_record``;
    ``keep_corrupt=False`` (default) drops them after the scan so the
    clean frame matches ``schema`` exactly, ``True`` keeps the column
    for a quarantine sink. Compressed inputs (``.gz``/``.zst``) are
    handled by the codec layer transparently.

    Note (SPARK-21610): a query that references ONLY
    ``_corrupt_record`` from the raw scan is disallowed by Spark —
    ``cache()`` the returned frame before counting/filtering the
    quarantine on its own.
    """
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    df = spark.read.schema(full).option("mode", "PERMISSIVE").json(path)
    if keep_corrupt:
        return df
    return df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")


def read_binary_documents(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Directory of raw media files → multimodal rows: (doc_id from
    the path hash, payload binary, kind from the extension, meta
    length/mtime). ``binaryFile`` distributes the file reads;
    ``pathGlobFilter`` prunes at listing time, before any bytes move.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    return raw.select(
        F.xxhash64(F.col("path")).alias("doc_id"),
        F.col("content").alias("payload"),
        F.lower(F.element_at(F.split(F.col("path"), r"\."), -1)).alias("kind"),
        F.col("path"),
        F.col("length").alias("n_bytes"),
        F.date_format("modificationTime", "yyyy-MM-dd HH:mm:ss").alias("modified_at"),
    )
