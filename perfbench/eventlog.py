"""Fold an uncompressed Spark event log into job and stage records.

``fold(path)`` returns ``(jobs, stages)``:

- ``jobs[job_id] = {"desc", "stages", "start_ms"}``, where
  ``desc`` is the job description the tracer set (``None`` if unset);
- ``stages[stage_id] = {"tasks", "run_ms", "gc_ms", "input_bytes",
  "shuffle_write_bytes", "spill_bytes", "python_bytes"}`` summed over
  every attempt of the stage.

``by_description(jobs, stages)`` sums those per job description.
Only completed stages count; a stage shared by several jobs (a reused
exchange) is counted once, for the first job that lists it.
"""

from __future__ import annotations

import json
from collections import defaultdict

#: accumulable name -> stage-record field
ACCUMULABLES = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "data sent to Python workers": "python_bytes",
}
STAGE_FIELDS = (
    "tasks", "run_ms", "gc_ms", "input_bytes", "shuffle_write_bytes",
    "spill_bytes", "python_bytes",
)


def _num(value) -> float:
    try:
        return float(value)
    except (TypeError, ValueError):
        return 0.0


def fold(path: str) -> tuple[dict, dict]:
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: dict.fromkeys(STAGE_FIELDS, 0.0))
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "desc": props.get("spark.job.description"),
                    "stages": list(ev.get("Stage IDs", [])),
                    "start_ms": ev.get("Submission Time"),
                }
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                rec = stages[info["Stage ID"]]
                rec["tasks"] += info.get("Number of Tasks", 0)
                for acc in info.get("Accumulables", []):
                    field = ACCUMULABLES.get(acc.get("Name"))
                    if field:
                        rec[field] += _num(acc.get("Value"))
    return jobs, dict(stages)


def by_description(jobs: dict, stages: dict) -> dict[str, dict]:
    """Per job description: job count plus the summed stage fields."""
    out: dict[str, dict] = {}
    seen: set[int] = set()
    for job_id in sorted(jobs):
        job = jobs[job_id]
        agg = out.setdefault(job["desc"], dict.fromkeys(("jobs", "scan_tasks", *STAGE_FIELDS), 0.0))
        agg["jobs"] += 1
        for sid in job["stages"]:
            if sid in seen or sid not in stages:
                continue  # skipped (reused) or never-run stage
            seen.add(sid)
            st = stages[sid]
            for f in STAGE_FIELDS:
                agg[f] += st[f]
            if st["input_bytes"] > 0:
                agg["scan_tasks"] += st["tasks"]
    return out
