"""scripts/ab.py: the row check gates the timing, and a pair is reported."""

from __future__ import annotations

from conftest import SF0001 as SF
from scripts import ab


def q1(spark, sf_dir):
    from c3dc_etl_spark.suite.relational import q1_pricing_summary

    return q1_pricing_summary(spark, sf_dir)


def q1_first_row(spark, sf_dir):
    return q1(spark, sf_dir).limit(1)


def test_identical_variants_report_the_pair(spark, capsys):
    rc = ab.main(
        ["--sf", SF, "--pairs", "1", "tests.test_ab:q1", "tests.test_ab:q1"],
        spark,
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "rows identical" in out
    assert out.count("walls [") == 2
    assert "jobs [0]" not in out
    assert "wins 0/1" in out or "wins 1/1" in out
    # the gain rule needs ten pairs, whatever the walls
    assert "gain rule fails" in out


def test_row_mismatch_exits_before_timing(spark, capsys):
    rc = ab.main(
        [
            "--sf",
            SF,
            "--pairs",
            "1",
            "tests.test_ab:q1",
            "tests.test_ab:q1_first_row",
        ],
        spark,
    )
    captured = capsys.readouterr()
    assert rc != 0
    assert "MISMATCH tests.test_ab:q1_first_row" in captured.err
    assert "walls" not in captured.out
