"""Dump .explain("formatted") for a set of registry keys to files.

Usage:
    python tools/dump_plans.py <out_dir> <suffix> [key ...]

Writes ``<out_dir>/<key>_<suffix>.txt`` for each key (default: the
bench headline set). Plans are captured against $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1). Explain is driver-side planning only,
so this is safe to run on a contended box. Expression ids (``#123``),
``plan_id=`` numbers, lambda variable ids (``x_63``) and RDD ids with
their call sites are masked, and the tracked persists of each key are
released before the next key is planned, so dumps of two checkouts diff
clean when their plans are the same.

Hazard: when many keys are dumped in one process, the masked plan of a
key with several distinct aggregates (an ``Expand`` node, e.g.
``events_variant_type_chisq``, ``experiment_report_e2e``) depends on
how many expressions the earlier keys created: its ``Expand`` column
order can flip between two checkouts whose plans for that key are the
same. Before calling such a diff real, dump that key alone on both
sides (``python tools/dump_plans.py <out_dir> <suffix> <key>``).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from b2b_data_pipeline_indiamart_spark.operators import caching
from b2b_data_pipeline_indiamart_spark.plans import QUERIES
from b2b_data_pipeline_indiamart_spark.session import get_spark
from bench import DEFAULT_KEYS


def mask_ids(plan: str) -> str:
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    # a lambda variable is named after a session-wide counter
    plan = re.sub(r"\blambda (\w+)_\d+\b", r"lambda \1_N", plan)
    # an ExistingRDD scan names its RDD id and creation call site
    # (file:line), which move with unrelated edits
    return re.sub(r"RDD\[\d+\] at [^,]*", "RDD[N]", plan)


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/r16"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    keys = sys.argv[3:] or DEFAULT_KEYS
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for key in keys:
        try:
            df = QUERIES[key](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {exc}"
        # a key's tracked persists would show up as InMemoryTableScan in
        # the plans of later keys that share a subplan with them
        caching.release_cached()
        path = os.path.join(out_dir, f"{key}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(mask_ids(plan))
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
