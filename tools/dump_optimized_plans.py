"""Dump every catalog query's optimized logical plan, expression ids
normalized, as one JSON object {query: plan}. Diffing two dumps shows
whether a refactor changed any plan.

Usage (from the checkout root):
    python tools/dump_optimized_plans.py SF_DIR OUT.json [query ...]

Builders that materialize inside (localCheckpoint, saveAsTable, streaming
sinks) dump the plan over the materialized data only.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wikipediaetl_spark.catalog import all_queries
from wikipediaetl_spark.session import get_spark


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "#", plan)
    return re.sub(r"(ExistingRDD|LogicalRDD|Checkpoint)[^\n]*", r"\1<rdd>", plan)


def main() -> int:
    sf_dir, out, only = sys.argv[1], sys.argv[2], set(sys.argv[3:])
    spark = get_spark("plan_dump")
    plans = {}
    for name, qd in sorted(all_queries().items()):
        if only and name not in only:
            continue
        try:
            plan = qd.fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
            plans[name] = normalize(plan)
        except Exception as e:  # recorded, so a builder that breaks shows in the diff
            plans[name] = f"ERROR {type(e).__name__}: {str(e)[:300]}"
    with open(out, "w") as f:
        json.dump(plans, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
