"""Streaming near-dup sink soak receipt (VERDICT r12 #5).

The streaming suite proves SEMANTICS (exactly-once, restart-under-load,
watermark drops); this tool records the missing operational numbers for
the near-dup suppression sink (streaming/jobs.py:start_neardup_suppress_sink)
under a sustained run:

- per-epoch wall latency (p50 / p99) across N epochs,
- sustained throughput (docs/sec over the whole soak),
- signature-store growth curve (rows + bytes per epoch — must stay
  bounded by ADMITTED docs, i.e. linear in uniques, flat under a
  duplicate storm),
- each state store's parquet file count per epoch and at the end (the
  directory and file count, not the row count, drives probe latency
  growth).

Workload: deterministic generator (hashlib-derived words, no RNG) —
each epoch is one JSONL file of ``--docs`` documents: ~70% unique,
~20% near-dups of earlier docs (one word mutated), ~10% exact dups of
earlier docs, so within-batch suppression, cross-batch suppression and
the exact-collapse path all stay hot. Epochs are fed one file at a
time (maxFilesPerTrigger=1) and latency measured around
processAllAvailable — the foreachBatch epoch is the unit of work, so
this is the sink's real per-batch cost, not a trigger artifact.

The session is ``session.get_spark``'s: one task slot per cpu this
process may run on and a driver heap of min(16g, half of RAM).

Usage: python tools/stream_soak.py [--epochs 20] [--docs 1000]
Prints one JSON line per epoch and a final summary line for NOTES.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

VOCAB = [
    hashlib.md5(f"w{i}".encode()).hexdigest()[:8] for i in range(4096)
]


def make_doc(doc_id: int) -> str:
    """Deterministic ~40-word document unique to doc_id.

    Each word index is an INDEPENDENT hash of (doc_id, position).
    The first version drew words from a mod-2^64 LCG reduced mod 4096:
    the low 12 bits of such an LCG are themselves a full-period
    mod-2^12 LCG, so every document was a 40-word window of the SAME
    4096-long periodic word sequence — seeds at nearby phases were
    genuine near-duplicates and same-phase seeds exact copies, and the
    sink (correctly) suppressed ~58% of a nominally all-unique epoch.
    """
    words = []
    for i in range(40):
        h = hashlib.md5(f"doc{doc_id}:w{i}".encode()).digest()
        words.append(VOCAB[int.from_bytes(h[:8], "big") % len(VOCAB)])
    return " ".join(words)


def epoch_rows(epoch: int, docs_per_epoch: int) -> list:
    rows = []
    base = epoch * docs_per_epoch
    for j in range(docs_per_epoch):
        did = base + j
        bucket = did % 10
        if epoch > 0 and bucket < 1:  # 10% exact dup of an earlier doc
            src = did % base
            rows.append((did, make_doc(src)))
        elif epoch > 0 and bucket < 3:  # 20% near-dup (one word changed)
            src = did % base
            words = make_doc(src).split(" ")
            words[did % len(words)] = VOCAB[did % len(VOCAB)]
            rows.append((did, " ".join(words)))
        else:
            rows.append((did, make_doc(did)))
    return rows


def du_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def store_files(state_dir: Path) -> dict:
    """Parquet file count of each state store under ``state_dir``."""
    return {
        store.name: sum(1 for _ in store.rglob("*.parquet"))
        for store in sorted(state_dir.iterdir())
        if store.is_dir()
    }


# ---------------------------------------------------------------- embedding
# Deterministic vector workload for the SEMANTIC (embedding) near-dup
# sink — same epoch mix as the text workload: ~70% unique vectors,
# ~20% near-dups of earlier vectors (tiny perturbation, cosine stays
# ≥ ~0.999), ~10% exact dups. Random 64-d hash vectors are near-
# orthogonal (cos ≈ 0), so uniques never cross a 0.9 threshold.

VEC_DIM = 64
N_CELLS = 16


def make_vec(vec_id: int) -> list:
    """Deterministic 64-d vector unique to vec_id: each coordinate an
    independent hash of (vec_id, i) mapped into [-1, 1]."""
    out = []
    for i in range(VEC_DIM):
        h = hashlib.md5(f"vec{vec_id}:d{i}".encode()).digest()
        out.append(round(int.from_bytes(h[:8], "big") / 2**63 - 1.0, 6))
    return out


def soak_centroids() -> list:
    """Offline-trained-centroid stand-in: 16 deterministic hash
    vectors (the sink only needs SOME fixed routing literals; cell
    balance is a quality knob, not a correctness one)."""
    return [make_vec(10**9 + c) for c in range(N_CELLS)]


def make_drift_vec(vec_id: int) -> list:
    """Drift-segment vector: a different hash namespace AND a strong
    common component on the first 8 coordinates — the planted
    DISTRIBUTION SHIFT. Drift vectors are novel (admitted), mutually
    more similar than the base population, and concentrate into few
    cells: exactly the hot-cell / novel-content regime an ingest dedup
    sink meets when the upstream corpus changes character."""
    out = []
    for i in range(VEC_DIM):
        h = hashlib.md5(f"drift{vec_id}:d{i}".encode()).digest()
        x = int.from_bytes(h[:8], "big") / 2**63 - 1.0
        if i < 8:
            x = x * 0.3 + 0.9  # shared direction: the shifted mode
        out.append(round(x, 6))
    return out


def epoch_vec_rows(
    epoch: int, docs_per_epoch: int, drift: bool = False, drift_start: int = 0
) -> list:
    """Epoch workload: ~70% unique / 20% near-dup / 10% exact dup.
    Drift epochs keep the same mix but draw from the shifted family,
    with dup sources confined to the drift segment (fresh content
    never collides with the base population)."""
    rows = []
    base = epoch * docs_per_epoch
    gen = make_drift_vec if drift else make_vec
    # dup sources must come from the same family's already-seen range
    low = drift_start * docs_per_epoch if drift else 0
    seen = base - low
    for j in range(docs_per_epoch):
        vid = base + j
        bucket = vid % 10
        if seen > 0 and bucket < 1:  # 10% exact dup of an earlier vec
            rows.append((vid, gen(low + (vid % seen))))
        elif seen > 0 and bucket < 3:  # 20% near-dup (one coord nudged)
            v = gen(low + (vid % seen))
            v[vid % VEC_DIM] = round(v[vid % VEC_DIM] + 0.01, 6)
            rows.append((vid, v))
        else:
            rows.append((vid, gen(vid)))
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--epochs", type=int, default=20)
    ap.add_argument("--docs", type=int, default=1000)
    ap.add_argument(
        "--mode", choices=["minhash", "embedding"], default="minhash"
    )
    # planted drift segment (embedding mode): epochs in
    # [drift_at, drift_at + drift_len) draw from the shifted family
    ap.add_argument("--drift-at", type=int, default=-1)
    ap.add_argument("--drift-len", type=int, default=20)
    args = ap.parse_args()
    if args.mode == "embedding":
        return main_embedding(args)

    from pyspark.sql import types as T

    from b2b_data_pipeline_indiamart_spark.session import get_spark
    from b2b_data_pipeline_indiamart_spark.streaming.jobs import (
        read_event_stream,
        start_neardup_suppress_sink,
    )

    work = Path(tempfile.mkdtemp(prefix="soak_"))
    src = work / "docs"
    src.mkdir()
    spark = get_spark("neardup-soak")
    spark.sparkContext.setLogLevel("ERROR")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = read_event_stream(
        spark, str(src), schema=schema, max_files_per_trigger=1
    )
    out_dir, state_dir = work / "out", work / "state"
    q = start_neardup_suppress_sink(
        stream,
        str(out_dir),
        str(work / "ckpt"),
        str(state_dir),
        str(work / "ledger"),
        threshold=0.8,
    )
    latencies = []
    t_start = time.perf_counter()
    try:
        for e in range(args.epochs):
            # atomic rename into the watched dir (see embedding mode)
            tmp = work / f"b{e:04d}.json.tmp"
            with open(tmp, "w") as f:
                for did, text in epoch_rows(e, args.docs):
                    f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
            tmp.rename(src / f"b{e:04d}.json")
            t0 = time.perf_counter()
            q.processAllAvailable()
            lat = round(time.perf_counter() - t0, 3)
            latencies.append(lat)
            sig_rows = spark.read.parquet(str(state_dir / "sigs")).count()
            rec = {
                "epoch": e,
                "latency_sec": lat,
                "docs_per_sec": round(args.docs / lat, 1),
                "admitted_so_far": spark.read.parquet(str(out_dir)).count(),
                "sig_store_rows": sig_rows,
                "sig_store_bytes": du_bytes(state_dir / "sigs"),
                "band_store_bytes": du_bytes(state_dir / "bands"),
                "store_files": store_files(state_dir),
            }
            print(json.dumps(rec), flush=True)
    finally:
        q.stop()
    total = time.perf_counter() - t_start
    lat_sorted = sorted(latencies)
    n = len(lat_sorted)
    admitted = spark.read.parquet(str(out_dir)).count()
    summary = {
        "metric": "neardup_soak",
        "epochs": args.epochs,
        "docs_per_epoch": args.docs,
        "total_docs": args.epochs * args.docs,
        "admitted_docs": admitted,
        "sustained_docs_per_sec": round(args.epochs * args.docs / total, 1),
        "epoch_latency_p50": lat_sorted[n // 2],
        "epoch_latency_p99": lat_sorted[min(n - 1, int(n * 0.99))],
        "final_sig_store_rows": spark.read.parquet(
            str(state_dir / "sigs")
        ).count(),
        "final_state_bytes": du_bytes(state_dir),
        "final_store_files": store_files(state_dir),
    }
    print(json.dumps(summary), flush=True)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)




def main_embedding(args) -> None:
    """Soak the SEMANTIC near-dup sink (VERDICT r13 #7): per-epoch
    latency, sustained vectors/sec, and state growth (must stay one
    row per ADMITTED vector — linear in uniques, flat under the
    duplicate storm)."""
    from pyspark.sql import types as T

    from b2b_data_pipeline_indiamart_spark.session import get_spark
    from b2b_data_pipeline_indiamart_spark.streaming.jobs import (
        read_event_stream,
        start_embedding_neardup_suppress_sink,
    )

    work = Path(tempfile.mkdtemp(prefix="soak_emb_"))
    src = work / "vecs"
    src.mkdir()
    spark = get_spark("embedding-neardup-soak")
    spark.sparkContext.setLogLevel("ERROR")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    stream = read_event_stream(
        spark, str(src), schema=schema, max_files_per_trigger=1
    )
    out_dir, state_dir = work / "out", work / "state"
    q = start_embedding_neardup_suppress_sink(
        stream,
        str(out_dir),
        str(work / "ckpt"),
        str(state_dir),
        str(work / "ledger"),
        centroids=soak_centroids(),
        threshold=0.9,
    )
    latencies = []
    linear_violations: list = []
    t_start = time.perf_counter()
    try:
        for e in range(args.epochs):
            # write OUTSIDE the watched dir, then rename atomically:
            # the continuously-triggering file source lists the
            # just-created file mid-write, consumes its offset with
            # 0/partial rows, and NEVER re-reads a seen path (r14:
            # this silently dropped most 1000-vec epochs — vector gen
            # is slow enough that the source almost always won the
            # race; the same discipline any production ingest needs)
            in_drift = (
                args.drift_at >= 0
                and args.drift_at <= e < args.drift_at + args.drift_len
            )
            tmp = work / f"b{e:04d}.json.tmp"
            with open(tmp, "w") as f:
                for vid, vec in epoch_vec_rows(
                    e, args.docs, drift=in_drift, drift_start=args.drift_at
                ):
                    f.write(
                        json.dumps({"vec_id": vid, "embedding": vec}) + "\n"
                    )
            tmp.rename(src / f"b{e:04d}.json")
            t0 = time.perf_counter()
            q.processAllAvailable()
            # processAllAvailable can return before the just-written
            # file is visible to the source's listing (r14: a
            # contended soak silently skipped 14 of 20 files; ledger
            # counting fails too — empty batches also write markers —
            # and numInputRows is unreliably 0 for some file batches).
            # Sync on the SOURCE OFFSET: the file-source log offset is
            # the number of committed file entries, so file e is
            # processed exactly when max(endOffset.logOffset) >= e.
            deadline = time.perf_counter() + 300

            def _file_offset():
                # endOffset is a STRINGIFIED dict in PySpark (single
                # quotes — not JSON); pull the number out directly
                import re as _re

                off = -1
                for pr in q.recentProgress:
                    end = pr["sources"][0]["endOffset"]
                    m = _re.search(r"logOffset\D*(\d+)", str(end))
                    if m:
                        off = max(off, int(m.group(1)))
                return off

            while (
                _file_offset() < e
                and time.perf_counter() < deadline
            ):
                time.sleep(0.2)
                q.processAllAvailable()
            if _file_offset() < e:
                raise RuntimeError(f"epoch {e} never committed")
            lat = round(time.perf_counter() - t0, 3)
            latencies.append(lat)
            state_rows = spark.read.parquet(str(state_dir / "vecs")).count()
            admitted_so_far = spark.read.parquet(str(out_dir)).count()
            # THE growth law under soak: state carries exactly one row
            # per ADMITTED vector — linear in uniques, flat under the
            # duplicate storm, NO leak under drift (strict equality,
            # checked every epoch, not just at the end)
            if state_rows != admitted_so_far:
                linear_violations.append(
                    {"epoch": e, "state_rows": state_rows,
                     "admitted": admitted_so_far}
                )
            rec = {
                "epoch": e,
                "drift": in_drift,
                "latency_sec": lat,
                "vecs_per_sec": round(args.docs / lat, 1),
                "admitted_so_far": admitted_so_far,
                "state_rows": state_rows,
                "state_bytes": du_bytes(state_dir),
                "store_files": store_files(state_dir),
            }
            print(json.dumps(rec), flush=True)
    finally:
        q.stop()
    total = time.perf_counter() - t_start
    lat_sorted = sorted(latencies)
    n = len(lat_sorted)
    admitted = spark.read.parquet(str(out_dir)).count()
    summary = {
        "metric": "embedding_neardup_soak",
        "epochs": args.epochs,
        "vecs_per_epoch": args.docs,
        "drift_at": args.drift_at,
        "drift_len": args.drift_len if args.drift_at >= 0 else 0,
        "total_vecs": args.epochs * args.docs,
        "admitted_vecs": admitted,
        "sustained_vecs_per_sec": round(
            args.epochs * args.docs / total, 1
        ),
        "epoch_latency_p50": lat_sorted[n // 2],
        "epoch_latency_p99": lat_sorted[min(n - 1, int(n * 0.99))],
        "final_state_rows": spark.read.parquet(
            str(state_dir / "vecs")
        ).count(),
        "final_state_bytes": du_bytes(state_dir),
        "final_store_files": store_files(state_dir),
        "state_rows_equal_admitted_every_epoch": not linear_violations,
        "linearity_violations": linear_violations[:10],
    }
    print(json.dumps(summary), flush=True)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
