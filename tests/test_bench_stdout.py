"""Driver stdout contract for bench.py (VERDICT r12 ask #2).

The driver captures only the last ~2000 chars of bench stdout and joins
per-query walls round-over-round from the line's "queries" map — r8
renamed it to rotation_queries-only, which left PERF_r9..r12.per_query
empty and scaling.per_query uncomputable. These tests pin the restored
contract: the fixed HEADLINE per-query map always rides stdout (within
budget), the rotation map is the one dropped when the line outgrows the
tail window, and the realistic full-suite line actually fits.
"""

import json

import bench


def _fake(names, t=3.141):
    return {n: t for n in names}


def _result():
    return {"value": 50.125, "value_normalized": 56.32}


def _cohort():
    return (
        f"r13 rotation n={len(bench.ROTATION)} sha1=0123abcd; value = "
        f"{len(bench.HEADLINE)}-query headline median-of-3 collect wall"
    )


def test_headline_queries_map_on_stdout_line():
    """The full 41-query headline map must fit the tail budget on its
    own (the driver's join key), even alongside the base fields."""
    line = bench.stdout_line(
        _result(), _fake(bench.HEADLINE), _fake(bench.ROTATION),
        1.025, _cohort(), 0.1,
    )
    rec = json.loads(line)
    assert len(line) <= 1900
    assert rec["metric"] == "suite_wall" and rec["unit"] == "sec"
    assert set(rec["queries"]) == set(bench.HEADLINE)
    assert all(isinstance(v, float) for v in rec["queries"].values())


def test_rotation_dropped_before_headline():
    """When both cohort maps cannot fit, rotation_queries (fully
    recorded in BENCH_DETAIL.json) is truncated FIRST; the headline
    map survives intact."""
    line = bench.stdout_line(
        _result(), _fake(bench.HEADLINE), _fake(bench.ROTATION),
        1.0, _cohort(), 0.1, budget=1500,
    )
    rec = json.loads(line)
    assert len(line) <= 1500
    assert set(rec["queries"]) == set(bench.HEADLINE)
    assert rec["rotation_queries"] == {"_truncated": len(bench.ROTATION)}


def test_headline_truncation_last_resort():
    """Only when even the headline map alone cannot fit is it replaced
    by the _truncated marker (the line itself must never be lost)."""
    line = bench.stdout_line(
        _result(), _fake(bench.HEADLINE), _fake(bench.ROTATION),
        1.0, _cohort(), 0.1, budget=600,
    )
    rec = json.loads(line)
    assert len(line) <= 600
    assert rec["queries"] == {"_truncated": len(bench.HEADLINE)}
    # the suite wall itself always survives for the driver
    assert rec["value"] == 50.125


def test_bench_round_ignores_suffixed_artifacts(tmp_path):
    """The round label derives from digits-only BENCH_r<N>.json tags:
    the driver's suffixed BENCH_r12_c8.json (8-core scaling artifact)
    crashed the old inline int() at the very end of a full bench run."""
    for name in (
        "BENCH_r11.json",
        "BENCH_r12.json",
        "BENCH_r12_c8.json",
        "BENCH_rX.json",
    ):
        (tmp_path / name).write_text("{}")
    assert bench.bench_round(str(tmp_path)) == 13
    for f in tmp_path.iterdir():
        f.unlink()
    assert bench.bench_round(str(tmp_path)) == 1


def test_bench_round_rejects_non_ascii_digit_tags(tmp_path):
    """``"²".isdigit()`` is True but ``int("²")`` raises: such a tag must
    be skipped, not crash the round label."""
    for name in ("BENCH_r².json", "BENCH_r12_c8.json"):
        (tmp_path / name).write_text("{}")
    assert bench.bench_round(str(tmp_path)) == 1
    (tmp_path / "BENCH_r7.json").write_text("{}")
    assert bench.bench_round(str(tmp_path)) == 8


def test_long_cohort_truncated_to_budget():
    """A caller-supplied cohort longer than the whole budget is the last
    thing cut: the line still parses and fits."""
    long_cohort = "r13 rotation é\"x " * 400
    line = bench.stdout_line(
        _result(), _fake(bench.HEADLINE), _fake(bench.ROTATION),
        1.0, long_cohort, 0.1, budget=600,
    )
    rec = json.loads(line)
    assert len(line) <= 600
    assert long_cohort.startswith(rec["cohort"]) and rec["cohort"]
    assert rec["queries"] == {"_truncated": len(bench.HEADLINE)}
    assert rec["value"] == 50.125
