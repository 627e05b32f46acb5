"""Row-mapped builder unit tests (M3/S10/X4); vectors modeled on
etl/mci/test/test_c3dc_row_mapped_builder.py:71-160."""

from __future__ import annotations

from c3dc_etl_spark.mapping.compiler import CompilerContext
from c3dc_etl_spark.rowmapped import build_rowmapped_node, parse_rule_rows, rule_errors
from c3dc_etl_spark.rowmapped.builder import _parse_call
from c3dc_etl_spark.schema.registry import SchemaRegistry

REG = SchemaRegistry()


def _ctx():
    return CompilerContext(registry=REG, uuid_seed="t", row_identity=("sid",))


def test_parse_call_args():
    assert _parse_call("{sum_abs_first(a, b, '100')}") == (
        "sum_abs_first", ("a", "b", "'100'")
    )
    assert _parse_call("{uuid}") == ("uuid", ())  # bare macro: a call with no args
    assert _parse_call("literal") is None


def test_parse_rule_rows_skips_blank_and_dupes():
    rows = [
        {"Source Variable Name": "f1", "Source Permissible Values Code": "x",
         "treatment.treatment_type": "Surgery"},
        {"Source Variable Name": "", "treatment.treatment_type": "ignored"},
        {"Source Variable Name": "f1", "Source Permissible Values Code": "x",
         "treatment.treatment_type": "Surgery"},  # duplicate
    ]
    rules = parse_rule_rows(rows, "treatment")
    assert len(rules) == 1
    assert rules[0].outputs == {"treatment_type": "Surgery"}


def test_rule_errors_x4():
    rows = [
        {"Source Variable Name": "f1", "Source Permissible Values Code": "x"},
        {"Source Variable Name": "[f1, f2]", "Source Permissible Values Code": "a",
         "treatment.not_a_prop": "y"},
        # checked against the macro registry the build compiles through
        {"Source Variable Name": "f1", "Source Permissible Values Code": "x",
         "treatment.treatment_id": "{bogus}",
         "treatment.age_at_treatment_start": "{sum_abs_first(a, '5')}"},
        # and called with the arguments its builder reads
        {"Source Variable Name": "f1", "Source Permissible Values Code": "z",
         "treatment.age_at_treatment_start": "{sum_abs_first}"},
    ]
    rules = parse_rule_rows(rows, "treatment")
    errs = rule_errors(rules, "treatment", REG)
    text = "\n".join(errs)
    assert "no 'treatment.' output columns" in text
    assert "unknown output property" in text
    assert "value arity 1 != 2" in text
    assert "rule#2: unknown macro {bogus}" in text
    assert [e for e in errs if "sum_abs_first" in e] == [
        "rule#3: macro {sum_abs_first} needs 1 argument(s), got 0"
        " in treatment.age_at_treatment_start"
    ]


def test_build_rowmapped_matching_and_macros(spark):
    rows = [
        {"Source Variable Name": "flag", "Source Permissible Values Code": "y",
         "treatment.treatment_id": "{uuid}",
         "treatment.treatment_type": "chemotherapy",
         "treatment.age_at_treatment_start": "{sum_abs_first(a1, '5')}"},
        {"Source Variable Name": "[flag, other]",
         "Source Permissible Values Code": "*;go",
         "treatment.treatment_id": "{uuid}",
         "treatment.treatment_type": "Surgery"},
    ]
    rules = parse_rule_rows(rows, "treatment")
    df = spark.createDataFrame(
        [("s1", "Y ", "stop", "-10"), ("s2", "n", "go", "-20"), ("s3", "y", "go", "")],
        "sid string, flag string, other string, a1 string",
    )
    out = build_rowmapped_node(df, "treatment", rules, _ctx()).collect()
    by_type = {}
    for r in out:
        by_type.setdefault(r["treatment_type"][0], []).append(r)
    # rule 1: 'Y ' and 'y' match case-insensitively trimmed; 'n' doesn't
    chemo = by_type["Chemotherapy"]
    assert len(chemo) == 2
    ages = sorted((a["age_at_treatment_start"] for a in chemo), key=lambda x: (x is None, x))
    assert ages == [15, None]  # |-10|+5; blank a1 -> null (V10 discipline)
    # rule 2: ordinal wildcard * + exact 'go'
    surgery = by_type["Surgery"]
    assert len(surgery) == 2  # s2 and s3
    # per-rule uuids are distinct from each other and deterministic
    ids = [r["treatment_id"] for r in out]
    assert len(set(ids)) == len(ids)
    out2 = build_rowmapped_node(df, "treatment", rules, _ctx()).collect()
    assert sorted(ids) == sorted(r["treatment_id"] for r in out2)


def test_rowmapped_uuid_id_skips_required_filter(spark):
    """Row-mapped nodes share the mapped nodes' union + P6 tail: a
    {uuid} id in every rule is provably non-blank, so its required
    filter is skipped and no Filter in the executed plan evaluates the
    md5 hash (a Filter, unlike a Project, has no subexpression
    elimination)."""
    from pyspark.sql import functions as F

    from perfbench.workloads import STUDY_RULES

    rules = parse_rule_rows(STUDY_RULES, "treatment")
    src = spark.range(6).select(
        F.col("id").alias("source_file_row_num"),
        F.when(F.col("id") % 2 == 0, "Yes").otherwise("no").alias("chemo"),
        (F.col("id") - 10).cast("string").alias("tx_age"),
    )
    ctx = CompilerContext(registry=REG, uuid_seed="t")
    out = build_rowmapped_node(src, "treatment", rules, ctx)
    rows = out.collect()
    assert len(rows) == 3 and all(len(r["treatment_id"]) == 36 for r in rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    filters = [line for line in plan.splitlines() if "Filter" in line]
    assert filters and not [line for line in filters if "md5" in line]
