"""Exact reference model for the embedding near-dup soak workload.

The 1000-epoch drift soak (VERDICT r14 #9; tools/stream_soak.py
--mode embedding --drift-at N) admits a deterministic number of
vectors per epoch, derivable WITHOUT Spark: every generated row's
payload is either the pristine ``make_vec``/``make_drift_vec`` of
some generator id (its BASE id) or a one-coordinate nudge of one
(cosine ≥ 0.999 to the pristine form), and distinct base ids are
near-orthogonal (cos ≈ 0 base family, ≈ 0.25 within the drift mode —
both far under the 0.9 threshold). The sink's admit rule therefore
reduces to: a row is admitted iff its base id has not been admitted
before (within-batch keep-lowest collapses same-base rows to one).

Subtlety the model makes explicit: a "dup" row whose SOURCE id was
itself a dup slot references ``gen(src)`` — a pristine vector that
never actually streamed (the source slot carried a copy of an older
id instead). Those rows are genuinely novel and MUST be admitted;
naive "30% of each epoch is dups" accounting would misread them as
suppression failures. The drift segment's admission pattern
(alternating +70 / +100 epochs) is exactly this aliasing, and the
model reproduces it epoch-for-epoch.

Residual the model does NOT capture: cell-boundary probe misses — a
near-dup nudged across an IVF cell boundary probes the wrong cell
and is admitted (the standard IVF false-negative; observed rate
~1 per 15k dup rows in the r15 run). The checker reports per-epoch
diffs so those show up individually instead of hiding in totals.

Usage: python tools/soak_model.py SOAK_LOG.jsonl
The workload's shape (vectors per epoch, drift start and length) is
read from the soak's summary line. Prints one JSON line and exits 1
if any epoch differs from the model (or the log has no summary).
"""

from __future__ import annotations

import json
import sys


def epoch_base_ids(e: int, docs: int, drift: bool, drift_at: int):
    """(vid, base_id) per generated row — mirrors
    tools/stream_soak.epoch_vec_rows exactly."""
    base = e * docs
    low = drift_at * docs if drift else 0
    seen = base - low
    for j in range(docs):
        vid = base + j
        if seen > 0 and vid % 10 < 3:
            yield vid, low + (vid % seen)
        else:
            yield vid, vid


def check(log_path: str, docs: "int | None" = None, drift_at: "int | None" = None,
          drift_len: "int | None" = None) -> dict:
    """Per-epoch model vs observed admissions. The workload's shape
    comes from the soak's summary line unless given (a soak cut before
    its summary, like SOAK_r15_drift.jsonl, has to name it)."""
    lines = [json.loads(l) for l in open(log_path) if l.strip().startswith("{")]
    if docs is None:
        summary = next(r for r in lines if r.get("metric") == "embedding_neardup_soak")
        docs, drift_at = summary["vecs_per_epoch"], summary["drift_at"]
        drift_len = summary["drift_len"]
    rows = [r for r in lines if "epoch" in r]
    admitted: set = set()
    mismatches = []
    prev_cum = 0
    for r in rows:
        e = r["epoch"]
        drift = drift_at >= 0 and drift_at <= e < drift_at + drift_len
        n = 0
        for _vid, base_id in epoch_base_ids(e, docs, drift, drift_at):
            if base_id not in admitted:
                admitted.add(base_id)
                n += 1
        obs = r["admitted_so_far"] - prev_cum
        prev_cum = r["admitted_so_far"]
        if n != obs:
            mismatches.append({"epoch": e, "model": n, "observed": obs})
    return {
        "epochs": len(rows),
        "vecs_per_epoch": docs,
        "drift_at": drift_at,
        "exact_match": len(rows) - len(mismatches),
        "mismatches": mismatches,
        "model_total": len(admitted),
        "observed_total": rows[-1]["admitted_so_far"] if rows else 0,
        "state_equals_admitted_every_epoch": all(
            r["state_rows"] == r["admitted_so_far"] for r in rows
        ),
    }


if __name__ == "__main__":
    try:
        result = check(sys.argv[1])
    except StopIteration:
        sys.exit(f"{sys.argv[1]}: no embedding_neardup_soak summary line")
    print(json.dumps(result))
    sys.exit(1 if result["mismatches"] else 0)
