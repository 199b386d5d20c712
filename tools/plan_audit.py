"""Physical-plan audit over the whole query registry.

Complements the pytest plan guards (tests/test_plan_assertions.py pin
specific shapes; this tool writes the full per-key picture as an
artifact): for every registry key, build the physical plan at a small
SF and count the operators that decide 100 TB behavior —

- exchanges (shuffles), sort-merge vs broadcast joins,
- single-reducer hazards: CartesianProduct, BroadcastNestedLoopJoin,
  Window nodes with an EMPTY partition spec (global sort),
- Python boundaries: BatchEvalPython (per-row — banned),
  ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas (vectorized),
- TakeOrderedAndProject (the top-k shape that replaces global sorts),
- parquet scans with pushed filters vs bare scans.

Flags are advisory here (the pytest guards are the gate); known
bounded-by-construction windows and one-row broadcast crossJoins show
up in the counts but are NOT flagged when they match the same
allowlists the guards use.

Usage: python tools/plan_audit.py [out_json] [sf_dir]
Writes PLAN_AUDIT.json at the repo root by default.
"""

from __future__ import annotations

import json
import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

#: keys whose global windows run over an input bounded by construction
#: (a LIMIT k or an aggregate over ≤ k labels feeds them): a
#: single-partition window over a few rows is the cheapest correct
#: plan, not a scale hazard. The registry-wide pytest guard
#: (test_plan_assertions) imports this set.
BOUNDED_WINDOW_KEYS = {
    "topk_cumulative",
    "docs_zipf_slope",
    # cumulative share over the 10-row decile grain (aggregate of a
    # global_ntile output)
    "customer_pareto_curve",
    # reverse-cumsum / product-limit windows over the tenure bucket
    # grid (≤ ~50 rows at any SF: the bucket width fixes the grid)
    "customer_survival_km",
    # rank window over the 20-row TakeOrderedAndProject of
    # orderBy(...).limit(20), never the corpus
    "docs_bm25_topk",
    # page_row window over the 60-row TakeOrderedAndProject of
    # orderBy(key).limit(offset+size)
    "table_page",
}

#: keys whose docstrings declare a vectorized Python stage
ARROW_DECLARED = {"docs_bpe_tokenize"}


def _first_spec_element(plan: str, start: int) -> str:
    """The first top-level element of a windowspecdefinition(...) body,
    extracted with a paren-depth scan — ``[^)]*`` truncated at the
    first ')' inside nested expressions (e.g. a partition key like
    date_trunc(hour, ts)), miscounting partitioned windows as global
    (ADVICE r9). ``start`` points just past the opening paren."""
    depth, i = 0, start
    while i < len(plan):
        c = plan[i]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                break
            depth -= 1
        elif c == "," and depth == 0:
            break
        i += 1
    return plan[start:i].strip()


def _empty_window_specs(plan: str) -> int:
    n = 0
    for m in re.finditer(r"windowspecdefinition\(", plan):
        first = _first_spec_element(plan, m.end())
        if first.endswith(("ASC NULLS FIRST", "DESC NULLS LAST")) or re.match(
            r"^\S+ (ASC|DESC)\b", first
        ):
            n += 1
    return n


def main() -> None:
    out_path = Path(sys.argv[1]) if len(sys.argv) > 1 else REPO / "PLAN_AUDIT.json"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"

    from pyspark.sql import SparkSession

    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("plan-audit")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    out: dict[str, dict] = {}
    for key, fn in QUERIES.items():
        try:
            df = fn(spark, sf)
            qe = df._jdf.queryExecution()
            phys = qe.executedPlan().toString()
            opt = qe.optimizedPlan().toString()
            rec = {
                "exchanges": phys.count("Exchange"),
                "sort_merge_joins": phys.count("SortMergeJoin"),
                "broadcast_hash_joins": phys.count("BroadcastHashJoin"),
                "bnl_joins": phys.count("BroadcastNestedLoopJoin"),
                "cartesian": phys.count("CartesianProduct"),
                "take_ordered": phys.count("TakeOrderedAndProject"),
                "window_group_limit": phys.count("WindowGroupLimit"),
                "batch_eval_python": phys.count("BatchEvalPython"),
                "arrow_eval_python": phys.count("ArrowEvalPython"),
                "map_in_pandas": phys.count("MapInPandas"),
                "grouped_pandas": phys.count("FlatMapGroupsInPandas"),
                "empty_window_specs": _empty_window_specs(opt),
                "pushed_filter_scans": len(
                    re.findall(r"PushedFilters: \[[^\]]", phys)
                ),
            }
            flags = []
            if rec["batch_eval_python"]:
                flags.append("per-row-python")
            if rec["arrow_eval_python"] and key not in ARROW_DECLARED:
                flags.append("undeclared-arrow-udf")
            if rec["empty_window_specs"] and key not in BOUNDED_WINDOW_KEYS:
                flags.append("global-window")
            rec["flags"] = flags
            out[key] = rec
        except Exception as exc:  # noqa: BLE001 — artifact records failures
            out[key] = {"error": f"{type(exc).__name__}: {exc}"[:300], "flags": ["error"]}
        print(f"{key}: {','.join(out[key]['flags']) or 'ok'}", flush=True)

    flagged = {k: v["flags"] for k, v in out.items() if v["flags"]}
    summary = {
        "sf_dir": sf,
        "elapsed_sec": round(time.time() - t0, 1),
        "total_keys": len(out),
        "flagged": flagged,
        "totals": {
            m: sum(v.get(m, 0) for v in out.values() if "error" not in v)
            for m in (
                "exchanges",
                "sort_merge_joins",
                "broadcast_hash_joins",
                "cartesian",
                "batch_eval_python",
            )
        },
    }
    out_path.write_text(json.dumps({"summary": summary, "keys": out}, indent=1))
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
