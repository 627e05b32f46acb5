#!/usr/bin/env python3
"""Regenerate tests/plan_budget.json — the committed per-query plan-shape
scorecard that tests/test_plan_budget.py fences against drift.

Run after any DELIBERATE plan change (new operator, optimization, new
query), review the diff like code — a new exchange appearing in a
pruned-scan query is exactly the regression class this exists to catch —
then commit the updated scorecard with the change that caused it.

Usage: python scripts/gen_plan_budget.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from c3dc_etl_spark.session import get_spark
    from c3dc_etl_spark.suite import REGISTRY
    from scripts.plan_report import plan_metrics
    from tests.test_plan_lint import _DRIVER_SIDE

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-budget")
    budget: dict[str, dict] = {}
    for name in sorted(REGISTRY):
        if name in _DRIVER_SIDE:
            continue
        p = (
            REGISTRY[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        m = plan_metrics(p)
        # the fence pins the shuffle/scan/join structure; pushed/partf
        # counts ride along for the audit but drift with filter phrasing,
        # so they are informational (not compared by the test)
        budget[name] = m
    out = os.path.join(REPO, "tests", "plan_budget.json")
    with open(out, "w") as fh:
        json.dump(budget, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {out}: {len(budget)} queries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
