"""Per-layer metrics of a traced run, named by module.

Counts and times are per timed pass (totals over the measured window
divided by the number of passes), so they compare across runs with
different pass counts. A layer a workload never reaches reports 0:
that is the predicted "no change" side of each pair in NOTES.md.
"""

from __future__ import annotations

import os

import eventlog
from workloads import REGISTRY_KEYS

PLAN_FIELDS = (
    ("jobs", "jobs", "count"),
    ("scan_tasks", "scan_tasks", "count"),
    ("shuffle_bytes", "shuffle_write_bytes", "bytes"),
)


def _sum_under(per_desc: dict, prefix: str) -> dict:
    """Sum the folded records of the top-level span ``prefix`` and every
    span nested under it."""
    return _sum_all({
        desc: rec for desc, rec in per_desc.items()
        if desc is not None and (desc == prefix or desc.startswith(prefix + " > "))
    })


def per_layer(tracer, log_dir, wl, ctx, passes, window, wall_window, nproc) -> dict:
    """``{metric: (value, unit)}`` from the spans and the event log of
    the timed window (``window`` in perf_counter, ``wall_window`` in
    epoch seconds, the event log's clock)."""
    (t0, t1), (w0, w1) = window, wall_window
    n = max(1, len(passes))
    (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    jobs, stages = eventlog.fold(log)
    jobs = {
        j: rec for j, rec in jobs.items()
        if rec["start_ms"] is not None and w0 * 1000 <= rec["start_ms"] <= w1 * 1000
    }
    per_desc = eventlog.by_description(jobs, stages)
    total = _sum_all(per_desc)
    timed = [r for r in tracer.spans if r["end"] is not None and t0 <= r["start"] <= t1]

    def spans_s(name, prefix=False):
        return sum(
            r["end"] - r["start"] for r in timed
            if r["name"] == name or (prefix and r["name"].startswith(name))
        ) / n

    m: dict[str, tuple[float, str]] = {
        "spark.jobs": (total.get("jobs", 0.0) / n, "count"),
        "spark.tasks": (total.get("tasks", 0.0) / n, "count"),
        "spark.executor_run_s": (total.get("run_ms", 0.0) / 1000 / n, "s"),
        "spark.gc_s": (total.get("gc_ms", 0.0) / 1000 / n, "s"),
        "spark.input_bytes": (total.get("input_bytes", 0.0) / n, "bytes"),
        "spark.shuffle_bytes": (total.get("shuffle_write_bytes", 0.0) / n, "bytes"),
        "spark.spill_bytes": (total.get("spill_bytes", 0.0) / n, "bytes"),
        "spark.python_bytes": (total.get("python_bytes", 0.0) / n, "bytes"),
        "spark.busy_ratio": (total.get("run_ms", 0.0) / 1000 / ((t1 - t0) * nproc), "ratio"),
        "session.get_spark_s": (
            sum(r["end"] - r["start"] for r in tracer.spans if r["name"] == "session.get_spark"),
            "s",
        ),
    }
    catalog = [
        r for r in timed if r["name"].startswith("catalog.") and not tracer.inside(r, "catalog.")
    ]
    m["catalog.loads"] = (len(catalog) / n, "count")
    m["catalog.load_s"] = (sum(r["end"] - r["start"] for r in catalog) / n, "s")
    for key in REGISTRY_KEYS:
        rec = _sum_under(per_desc, f"plans.{key}")
        m[f"plans.{key}.build_s"] = (spans_s(f"plans.{key}.build"), "s")
        m[f"plans.{key}.exec_s"] = (spans_s(f"plans.{key}.exec"), "s")
        for name, field, unit in PLAN_FIELDS:
            m[f"plans.{key}.{name}"] = (rec.get(field, 0.0) / n, unit)
    m["operators.caching.release_s"] = (spans_s("operators.caching.release_cached"), "s")
    m["operators.caching.leaked_rdds"] = (float(ctx.leaked_rdds), "count")

    pipe = _sum_under(per_desc, "pipeline.run_pipeline")
    raw = getattr(wl, "raw", None)  # only etl_csv reads a CSV
    csv_bytes = os.path.getsize(raw) if raw else 0
    sqlite_s = spans_s("sources.write_sqlite")
    sqlite_rows = tracer.counts.get("sources.write_sqlite_rows", 0.0) / n
    m["sources.read_csv_s"] = (spans_s("sources.read_csv"), "s")
    m["sources.csv_read_amplification"] = (
        pipe.get("input_bytes", 0.0) / n / csv_bytes if csv_bytes else 0.0, "ratio"
    )
    m["sources.write_csv_s"] = (spans_s("sources.write_csv"), "s")
    m["sources.write_sqlite_s"] = (sqlite_s, "s")
    m["sources.write_sqlite_rows_per_s"] = (sqlite_rows / sqlite_s if sqlite_s else 0.0, "rows/s")
    m["pipeline.run_pipeline_s"] = (spans_s("pipeline.run_pipeline"), "s")
    m["pipeline.run_pipeline_jobs"] = (pipe.get("jobs", 0.0) / n, "count")
    m["pipeline.fix_types_s"] = (spans_s("pipeline.fix_types"), "s")
    m["pipeline.analyze_s"] = (
        spans_s("pipeline.chart.", prefix=True) + spans_s("pipeline.analyze"), "s"
    )
    m["pipeline.analyze_jobs"] = (
        sum(
            rec["jobs"] for desc, rec in per_desc.items()
            if desc and desc.startswith(("pipeline.chart.", "pipeline.analyze"))
        ) / n,
        "count",
    )
    lat = getattr(wl, "latencies", [])  # only registry_stream has epochs
    progress = getattr(wl, "progress", [])
    m["streaming.start_s"] = (spans_s("streaming.start_neardup_suppress_sink"), "s")
    m["streaming.epoch_s"] = (_median(lat) if lat else 0.0, "s")
    m["streaming.docs_per_s"] = (wl.DOCS * len(lat) / sum(lat) if lat else 0.0, "1/s")
    m["streaming.add_batch_s"] = (sum(p.get("addBatch", 0) for p in progress) / 1000 / n, "s")
    m["streaming.trigger_s"] = (
        sum(p.get("triggerExecution", 0) for p in progress) / 1000 / n, "s"
    )
    m["streaming.admit_ratio"] = (
        getattr(wl, "admitted_docs", 0) / wl.truth["docs"] if lat else 0.0, "ratio"
    )
    m["streaming.state_rows"] = (float(getattr(wl, "state_rows", 0)), "count")
    m["streaming.state_bytes"] = (float(getattr(wl, "state_bytes", 0)), "bytes")
    m["trace.pass_s"] = (sorted(p["wall_s"] for p in passes)[(len(passes) - 1) // 2], "s")
    m["trace.span_coverage"] = (tracer.coverage(t0, t1), "ratio")
    return m


def _median(xs):
    xs = sorted(xs)
    return (xs[(len(xs) - 1) // 2] + xs[len(xs) // 2]) / 2


def _sum_all(per_desc: dict) -> dict:
    out: dict[str, float] = {}
    for rec in per_desc.values():
        for k, v in rec.items():
            out[k] = out.get(k, 0.0) + v
    return out
