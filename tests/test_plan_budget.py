"""Plan-regression golden fence (VERDICT r4 ask #8): every batch suite
query's physical-plan SHAPE — exchange count, scan count, join-strategy
counts, reuse — is pinned in the committed ``tests/plan_budget.json``
scorecard and compared exactly. PLAN_AUDIT.md is a generated report
nobody is forced to read; this test makes the same numbers a CI gate:
a new Exchange sneaking into a pruned-scan query, a broadcast silently
demoting to a shuffle join, or a scan duplication fails HERE, naming the
query and the drifted metric.

On a deliberate plan change, regenerate with
``python scripts/gen_plan_budget.py`` and commit the scorecard diff
alongside the code that caused it.
"""

from __future__ import annotations

import json
import os

import pytest

from c3dc_etl_spark.suite import REGISTRY
from tests.test_plan_lint import _DRIVER_SIDE

SF = "/root/testdata/sf0.001"
_BUDGET_PATH = os.path.join(os.path.dirname(__file__), "plan_budget.json")

with open(_BUDGET_PATH) as _fh:
    BUDGET = json.load(_fh)

# pinned structure; pushed/partf are phrasing-sensitive audit extras
_COMPARED = ("exch", "reuse", "scans", "smj", "bhj", "bnlj", "cartesian")


def test_budget_covers_exactly_the_batch_registry():
    expected = {n for n in REGISTRY if n not in _DRIVER_SIDE}
    missing = expected - set(BUDGET)
    stale = set(BUDGET) - expected
    assert not missing and not stale, (
        f"plan_budget.json out of sync (missing={sorted(missing)}, "
        f"stale={sorted(stale)}); regenerate: python scripts/gen_plan_budget.py"
    )


def test_fence_union_exclusions_is_registry():
    """r7 verdict item 4: the fence exclusion is an explicit, committed,
    reason-annotated list — fenced ∪ excluded == registry, disjoint, no
    stale exclusions, and every streaming-tagged registry query (and
    only genuinely streaming names) rides the streaming reason. A new
    batch query that is neither fenced nor deliberately excluded fails
    here BY NAME."""
    from tests.test_plan_lint import _DRIVER_SIDE_REASONS

    fenced, excluded, registry = set(BUDGET), set(_DRIVER_SIDE), set(REGISTRY)
    assert fenced | excluded == registry, (
        f"unfenced-and-unexcluded: {sorted(registry - fenced - excluded)}; "
        f"stale fence entries: {sorted((fenced | excluded) - registry)}"
    )
    assert not fenced & excluded, sorted(fenced & excluded)
    assert excluded <= registry, sorted(excluded - registry)
    for name, reason in _DRIVER_SIDE_REASONS.items():
        assert reason.strip(), f"exclusion {name} has no stated reason"
        assert name.startswith("streaming_") == reason.startswith(
            "streaming"
        ), f"exclusion {name}: reason {reason!r} mismatches its name class"


@pytest.mark.parametrize(
    "name", [n for n in sorted(REGISTRY) if n not in _DRIVER_SIDE]
)
def test_plan_shape_matches_committed_budget(spark, name):
    from scripts.plan_report import plan_metrics

    if name not in BUDGET:
        pytest.fail(
            f"{name} has no committed plan budget; regenerate: "
            "python scripts/gen_plan_budget.py"
        )
    plan = REGISTRY[name].fn(spark, SF)._jdf.queryExecution()
    got = plan_metrics(plan.executedPlan().toString())
    want = BUDGET[name]
    drift = {
        k: (want[k], got[k]) for k in _COMPARED if got[k] != want.get(k)
    }
    assert not drift, (
        f"{name}: plan shape drifted from committed budget "
        f"{{metric: (want, got)}} = {drift}; if deliberate, regenerate "
        "scripts/gen_plan_budget.py and commit the diff"
    )
