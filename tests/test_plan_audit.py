"""PLAN_AUDIT.md is a generated report (scripts/plan_report.py); the
committed plan-budget fence (tests/plan_budget.json) holds the same
numbers. Every audit row must match the fence, so a plan change that
regenerates one and not the other fails here. Needs no Spark."""

from __future__ import annotations

import json
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
COLUMNS = ("exch", "reuse", "scans", "pushed", "partf", "smj", "bhj")


def _audit_rows() -> dict[str, dict[str, int]]:
    rows = {}
    for line in (ROOT / "PLAN_AUDIT.md").read_text().splitlines():
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(cells) != len(COLUMNS) + 2 or not cells[1].isdigit():
            continue  # prose, header or separator
        rows[cells[0]] = dict(zip(COLUMNS, map(int, cells[1:-1])))
    return rows


def test_plan_audit_matches_plan_budget():
    budget = json.loads((ROOT / "tests" / "plan_budget.json").read_text())
    audit = _audit_rows()
    assert set(audit) == set(budget)
    stale = {
        name: (row, {c: budget[name][c] for c in COLUMNS})
        for name, row in audit.items()
        if row != {c: budget[name][c] for c in COLUMNS}
    }
    assert not stale, f"PLAN_AUDIT.md rows differ from tests/plan_budget.json: {stale}"
