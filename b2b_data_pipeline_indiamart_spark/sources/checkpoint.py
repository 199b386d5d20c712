"""Resumable batch ingestion with a JSON checkpoint manifest.

Reference parity: scraper.py:543-574 (``load_checkpoint`` /
``save_checkpoint``) tracks ``completed_keywords`` + ``seen_keys`` in a
JSON file and appends finished batches to a partial CSV, so a crashed
crawl resumes where it left off.

The Spark-native translation: the unit of work is a *file* (not a
keyword), the partial CSV becomes an append-mode parquet dataset, and
the manifest records completed files. Row-level dedup against already-
ingested data (the reference's driver-side ``seen_keys`` set, capped at
200k entries — scraper.py:560) is a distributed left-anti join against
the output dataset's key columns instead, so it has no cap and no
driver memory footprint at 100 TB.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
from datetime import datetime, timezone
from typing import Sequence

from pyspark.sql import SparkSession

from .csv_source import read_csv_normalized

_EMPTY = {"completed_files": [], "updated_at": None}


def load_manifest(path: str) -> dict:
    """Tolerant manifest load (scraper.py:543-556 parity): any missing,
    malformed, or non-dict file resets to an empty manifest."""
    if not path or not os.path.exists(path):
        return dict(_EMPTY)
    try:
        with open(path, encoding="utf-8") as f:
            data = json.load(f)
        if not isinstance(data, dict):
            return dict(_EMPTY)
        data.setdefault("completed_files", [])
        return data
    except (OSError, json.JSONDecodeError):
        return dict(_EMPTY)


def save_manifest(path: str, completed_files: Sequence[str]) -> None:
    """Atomic write (tmp + rename) so a crash mid-save never corrupts
    the manifest — the reference rewrites in place (scraper.py:558-566),
    which can lose the checkpoint on a crash; we keep the stronger
    guarantee since resume correctness depends on it."""
    payload = {
        "completed_files": sorted(set(completed_files)),
        "updated_at": datetime.now(timezone.utc).isoformat(),
    }
    tmp = f"{path}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(payload, f, ensure_ascii=False, indent=2)
    os.replace(tmp, path)


def resumable_ingest(
    spark: SparkSession,
    input_files: Sequence[str],
    output_dir: str,
    manifest_path: str,
    *,
    key_cols: Sequence[str] | None = None,
) -> list[str]:
    """Ingest ``input_files`` (CSV, via :func:`read_csv_normalized`)
    into an append-mode parquet dataset, skipping files the manifest
    already records. Returns the list of files processed *this* call.

    ``key_cols``: optional row-dedup keys. New rows whose key already
    exists in the output dataset are dropped via a left-anti join —
    the distributed equivalent of the scraper's ``seen_keys`` set
    (scraper.py:581-621). The anti-join shuffles only the new batch
    plus a key-projected scan of the output, and the manifest keeps
    re-runs idempotent at the file level, so the join is a per-file
    increment, not a full re-read per row.

    Crash idempotency (with or without ``key_cols``): each file's
    batch is written to ``<output_dir>/_staging/<tag>`` (underscore
    prefix → invisible to Spark reads), then its part files are
    renamed into ``output_dir`` under deterministic
    ``ingest-<tag>-*`` names, and only then is the manifest updated.
    A retry after a crash at any point first scrubs that file's
    committed parts and rewrites them, so rows are never duplicated.
    The rename-commit assumes a POSIX filesystem; on an object store,
    swap the commit step for the store's atomic-commit protocol
    (e.g. a Hadoop committer / table format).
    """
    manifest = load_manifest(manifest_path)
    completed = list(manifest["completed_files"])
    done = set(completed)
    processed: list[str] = []

    for path in input_files:
        if path in done:
            continue
        tag = hashlib.md5(path.encode("utf-8")).hexdigest()[:16]
        # Scrub parts committed by a crashed earlier attempt BEFORE the
        # anti-join reads the output, so a retry never sees (or keeps)
        # its own partial commit.
        for leftover in glob.glob(os.path.join(output_dir, f"ingest-{tag}-*.parquet")):
            os.remove(leftover)
        batch = read_csv_normalized(spark, path)
        if key_cols:
            if os.path.isdir(output_dir) and any(
                not entry.startswith((".", "_")) for entry in os.listdir(output_dir)
            ):
                existing_keys = spark.read.parquet(output_dir).select(*key_cols).distinct()
                batch = batch.join(existing_keys, on=list(key_cols), how="left_anti")
            batch = batch.dropDuplicates(list(key_cols))
        staging = os.path.join(output_dir, "_staging", tag)
        batch.write.mode("overwrite").parquet(staging)
        parts = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
        for i, part in enumerate(parts):
            os.replace(
                os.path.join(staging, part),
                os.path.join(output_dir, f"ingest-{tag}-{i:05d}.parquet"),
            )
        shutil.rmtree(staging, ignore_errors=True)
        completed.append(path)
        processed.append(path)
        # Checkpoint after every file (scraper.py:616-621 appends the
        # batch then saves the checkpoint) so a crash loses at most the
        # in-flight file — and the scrub above replaces that file's
        # partial commit on retry.
        save_manifest(manifest_path, completed)
    return processed
