"""Pin plan fingerprints for EVERY registered query (VERDICT r8 #2).

Builds each registry entry at sf0.001, counts the four scale-critical
physical nodes (Exchange, BroadcastHashJoin, SortMergeJoin,
BroadcastNestedLoopJoin) in the pre-execution plan, and writes the
table to tests/plan_fingerprints.json.

tests/test_plan_shapes.py::test_all_registered_plans_lint_clean_and_pinned
diffs live plans against this table — a new shuffle or a lost
broadcast ANYWHERE in the registry fails CI by query name. Re-run
this tool ONLY when a plan change is intentional, after reviewing
the moved query's explain(); the git diff of the JSON is the review
surface. Never regenerate to make red go green.

Usage: python tools/pin_fingerprints.py [name ...]
  (names = update only those entries; default = full regenerate)
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import export_checkout  # noqa: E402

export_checkout()

from selfhealingdatapipeline_gcp_spark import registry  # noqa: E402
from selfhealingdatapipeline_gcp_spark.session import get_spark  # noqa: E402

SF_TINY = "/root/testdata/sf0.001"
OUT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tests", "plan_fingerprints.json")
FP_NODES = ("Exchange", "BroadcastHashJoin", "SortMergeJoin",
            "BroadcastNestedLoopJoin")


def fingerprint(df) -> list[int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [len(re.findall(rf"\b{node}\b", plan)) for node in FP_NODES]


def main(argv) -> int:
    spark = get_spark("pin-fingerprints")
    spark.sparkContext.setLogLevel("ERROR")
    table: dict[str, list[int]] = {}
    if argv and os.path.exists(OUT):
        with open(OUT) as f:
            table = json.load(f)
    qs = registry.queries()
    names = argv or list(qs)
    errs = {}
    for name in names:
        try:
            table[name] = fingerprint(qs[name](spark, SF_TINY))
            print(f"{name}: {table[name]}", flush=True)
        except Exception as e:  # noqa: BLE001
            errs[name] = f"{type(e).__name__}: {e}"[:160]
            print(f"ERR {name}: {errs[name]}", flush=True)
    with open(OUT, "w") as f:
        json.dump(dict(sorted(table.items())), f, indent=1)
    print(f"\nwrote {len(table)} fingerprints to {OUT}; "
          f"{len(errs)} errors: {list(errs)}")
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
