"""Harmonization-engine unit tests.

Vectors modeled on the reference's pure-function tests
(etl/target/test/test_c3dc_etl.py:49-408 — is_replacement_match, race
logic, allowed values; etl/mci/test/test_c3dc_row_mapped_builder.py:71-160
— sum_abs_first) re-expressed against the Spark engine: each vector runs
the COMPILED Column expression on a tiny DataFrame and asserts the
harmonized output.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from c3dc_etl_spark.functions.columns import race_merge
from c3dc_etl_spark.harmonize.builder import build_node, sub_record_explode
from c3dc_etl_spark.mapping.compiler import CompilerContext, compile_field, match_predicate
from c3dc_etl_spark.mapping.model import FieldMapping, Replacement, load_mappings, mapping_errors
from c3dc_etl_spark.schema.registry import SchemaRegistry

REG = SchemaRegistry()


def _ctx(**kw):
    kw.setdefault("registry", REG)
    kw.setdefault("row_identity", ("rid",))
    return CompilerContext(**kw)


def _eval(spark, df, col):
    return [r[0] for r in df.select(col.alias("v")).collect()]


# -- match_predicate (V1-V4; reference is_replacement_match vectors) -------

@pytest.mark.parametrize(
    ("src", "old", "expected"),
    [
        ("Alive", "alive", True),        # case-insensitive
        ("  alive  ", "Alive", True),    # trimmed both sides
        ("alive", "dead", False),
        ("anything", "*", True),         # '*' matches everything
        ("", "*", True),                 # ...including blank
        ("anything", "+", True),         # '+' = non-empty only
        ("", "+", False),
        ("   ", "+", False),
        (None, "+", False),
    ],
)
def test_match_predicate_scalar(spark, src, old, expected):
    df = spark.createDataFrame([(src,)], "c string")
    got = _eval(spark, df, match_predicate(["c"], old))
    assert got == [expected]


@pytest.mark.parametrize(
    ("a", "b", "old", "expected"),
    [
        ("x", "y", "x;y", True),     # per-ordinal compound match
        ("x", "z", "x;y", False),
        ("x", "y", "*;y", True),     # ordinal wildcard
        ("x", "", "x;+", False),     # ordinal '+' needs non-empty
        ("x", "q", "x;+", True),
    ],
)
def test_match_predicate_compound(spark, a, b, old, expected):
    df = spark.createDataFrame([(a, b)], "a string, b string")
    got = _eval(spark, df, match_predicate(["a", "b"], old))
    assert got == [expected]


# -- race_merge (V12; reference _get_race vectors) -------------------------

RACE_PVS = REG.enum_values("participant", "race")


@pytest.mark.parametrize(
    ("race", "eth", "expected"),
    [
        ("White", "Not reported", ["White"]),
        # determinate ethnicity kept, undetermined race dropped
        ("Unknown", "Hispanic or Latino", ["Hispanic or Latino"]),
        ("white;asian", "", ["Asian", "White"]),  # split + case + sort
        ("Black or African American", "hispanic or latino",
         ["Black or African American", "Hispanic or Latino"]),
        ("not a race", "", []),                    # unmatched dropped
        ("", "", []),
    ],
)
def test_race_merge_vectors(spark, race, eth, expected):
    df = spark.createDataFrame([(race, eth)], "r string, e string")
    got = _eval(spark, df, race_merge(F.col("r"), F.col("e"), RACE_PVS))
    assert got == [expected]


# -- compile_field: defaults, fall-through, conversion ---------------------

def test_compile_field_default_on_blank(spark):
    m = FieldMapping("participant", "sex_at_birth", "src", default_value="Unknown")
    df = spark.createDataFrame([("",), ("female",), (None,)], "src string")
    got = _eval(spark, df, compile_field(m, _ctx()).column)
    assert got == ["Unknown", "Female", "Unknown"]


def test_compile_field_explicit_old_values_filter(spark):
    # P5: explicit old_values and no match -> null (field omitted)
    m = FieldMapping(
        "participant", "sex_at_birth", "src",
        replacement_values=(Replacement("f", "Female"), Replacement("m", "Male")),
    )
    df = spark.createDataFrame([("f",), ("m",), ("x",)], "src string")
    got = _eval(spark, df, compile_field(m, _ctx()).column)
    assert got == ["Female", "Male", None]


def test_compile_field_find_enum_fallthrough(spark):
    # V7+V13: a matched arm whose lookup misses must fall through
    m = FieldMapping(
        "diagnosis", "diagnosis", "src",
        replacement_values=(
            Replacement("+", "{find_enum_value}"),
            Replacement("miss", "8000/0 : Neoplasm, benign"),
        ),
    )
    df = spark.createDataFrame([("8000/3",), ("miss",), ("nope",)], "src string")
    got = _eval(spark, df, compile_field(m, _ctx()).column)
    assert got == ["8000/3 : Neoplasm, malignant", "8000/0 : Neoplasm, benign", None]


def test_compile_field_integer_half_up(spark):
    # V17/V20: Excel float artifacts round half-up, not truncate
    m = FieldMapping("diagnosis", "age_at_diagnosis", "src")
    df = spark.createDataFrame(
        [("3660.9999999999995",), ("12.5",), ("bad",), ("",)], "src string"
    )
    got = _eval(spark, df, compile_field(m, _ctx()).column)
    assert got == [3661, 13, None, None]


def test_compile_field_array_split_normalize(spark):
    # V18/V19: ';'-split, per-element case restore, unmatched dropped
    m = FieldMapping("diagnosis", "anatomic_site", "src")
    df = spark.createDataFrame(
        [("c71.9 : brain, nos; C42.1 : Bone marrow;junk",)], "src string"
    )
    got = _eval(spark, df, compile_field(m, _ctx()).column)
    assert got == [["C42.1 : Bone marrow", "C71.9 : Brain, NOS"]]


def test_sum_macro_null_and_default(spark):
    # V10: null if ANY addend blank; non-numeric -> default
    m = FieldMapping(
        "laboratory_test", "test_result_numeric", "[a, b]", default_value=-999,
        replacement_values=(Replacement("*", "{sum}"),),
    )
    df = spark.createDataFrame(
        [("1.5", "2"), ("", "2"), ("abc", "2")], "a string, b string"
    )
    got = _eval(spark, df, compile_field(m, _ctx()).column)
    assert got == [3.5, None, -999.0]


def test_sum_abs_first_macro(spark):
    # V11: abs() of the first addend only (reference
    # etl/mci/test/test_c3dc_row_mapped_builder.py test_sum_abs_first)
    m = FieldMapping(
        "laboratory_test", "age_at_laboratory_test", "[a, b]",
        replacement_values=(Replacement("*", "{sum_abs_first}"),),
    )
    df = spark.createDataFrame(
        [("-7", "3"), ("-7", "-2"), ("", "3")], "a string, b string"
    )
    got = _eval(spark, df, compile_field(m, _ctx()).column)
    assert got == [10, 5, None]


def test_uuid_macro_deterministic_and_distinct_per_group(spark):
    m0 = FieldMapping("diagnosis", "diagnosis_id", "[uuid]", type_group_index="0",
                      replacement_values=(Replacement("*", "{uuid}"),))
    m1 = FieldMapping("diagnosis", "diagnosis_id", "[uuid]", type_group_index="1",
                      replacement_values=(Replacement("*", "{uuid}"),))
    df = spark.createDataFrame([("r1",), ("r2",)], "rid string")
    ctx = _ctx(uuid_seed="s")
    a = _eval(spark, df, compile_field(m0, ctx).column)
    b = _eval(spark, df, compile_field(m0, ctx).column)
    c = _eval(spark, df, compile_field(m1, ctx).column)
    assert a == b                      # deterministic across plans
    assert len(set(a)) == 2            # distinct per row
    assert set(a).isdisjoint(c)        # distinct per type group
    assert all(len(u) == 36 and u[14] == "4" for u in a)  # v4-shaped


# -- mapping model + static validation (X2) --------------------------------

def test_load_mappings_parses_structure():
    maps = load_mappings(
        [
            {"output_field": "participant.participant_id", "source_field": "tab.col"},
            {"output_field": "participant.race", "source_field": "[r, e]",
             "replacement_values": [{"old_value": "*", "new_value": "{race}"}]},
        ]
    )
    assert maps[0].source_sheet() == "tab"
    assert maps[0].source_columns() == ["col"]
    assert maps[1].is_compound() and maps[1].source_columns() == ["r", "e"]
    assert maps[1].replacement_values[0].macro() == "race"


def test_mapping_errors_catches_bad_refs():
    maps = load_mappings(
        [
            {"output_field": "participant.nope", "source_field": "c1"},
            {"output_field": "ghost.x", "source_field": "c1"},
            {"output_field": "participant.sex_at_birth", "source_field": "missing_col"},
            {"output_field": "participant.sex_at_birth", "source_field": "c1",
             "replacement_values": [{"old_value": "*", "new_value": "{bogus}"}]},
            # {race} merges two source columns
            {"output_field": "participant.race", "source_field": "c1",
             "replacement_values": [{"old_value": "*", "new_value": "{race}"}]},
        ]
    )
    props = {n: {p.name for p in REG.node(n).props} for n in REG.node_names}
    errs = mapping_errors(maps, schema_props=props, source_columns={"c1"})
    text = "\n".join(errs)
    assert "unknown output property" in text
    assert "unknown output node" in text
    assert "not in source header" in text
    assert "unknown macro" in text
    assert "participant.race: macro {race} needs 2 argument(s), got 1" in errs


def test_mapping_errors_clean_mapping_passes():
    props = {n: {p.name for p in REG.node(n).props} for n in REG.node_names}
    maps = load_mappings(
        [{"output_field": "participant.participant_id", "source_field": "c1"}]
    )
    assert mapping_errors(maps, schema_props=props, source_columns={"c1"}) == []


def test_whole_value_field_splice_is_not_a_macro(spark):
    """A new_value that is exactly "{field:NAME}" splices that column,
    as the "v{field:NAME}" template form does — it is not a macro named
    'field': it passes static validation and compiles to the column's
    value."""
    props = {n: {p.name for p in REG.node(n).props} for n in REG.node_names}
    maps = load_mappings(
        [{"output_field": "participant.participant_id", "source_field": "c1",
          "replacement_values": [{"old_value": "*", "new_value": "{field:c2}"}]}]
    )
    assert mapping_errors(maps, schema_props=props, source_columns={"c1", "c2"}) == []
    df = spark.createDataFrame([("a", "x1"), ("b", "x2")], "c1 string, c2 string")
    assert _eval(spark, df, compile_field(maps[0], _ctx()).column) == ["x1", "x2"]


# -- sub_record_explode (M2) + build_node (P6) -----------------------------

def test_sub_record_explode_suffixes(spark):
    df = spark.createDataFrame(
        [("p1", "B;A"), ("p2", "C"), ("p3", "A;A")], "rec_id string, v string"
    )
    out = sub_record_explode(df, [("v", "prop")], "rec_id")
    got = {(r["rec_id"], r["v"]) for r in out.collect()}
    # 'B;A' -> sorted distinct clones; 'C' untouched; 'A;A' -> ONE
    # suffixed clone (delimiter present, values collapse)
    assert got == {
        ("p1_1", "A"), ("p1_2", "B"), ("p2", "C"), ("p3_1", "A"),
    }


def test_build_node_required_filter_and_union(spark):
    maps = load_mappings(
        [
            {"output_field": "participant.participant_id", "source_field": "pid"},
            {"output_field": "participant.sex_at_birth", "source_field": "sex"},
        ]
    )
    df = spark.createDataFrame(
        [("a", "female"), ("", "male"), (None, "male")], "pid string, sex string"
    )
    out = build_node(df, "participant", maps, _ctx(), explode_subrecords=False)
    rows = out.collect()
    # P6: blank/null participant_id records dropped
    assert [(r["participant_id"], r["sex_at_birth"]) for r in rows] == [("a", "Female")]


def test_build_node_skips_tautological_uuid_filter(spark):
    """A {uuid} id is provably non-blank (36-char md5 format), so the
    P6 required filter must be SKIPPED: pushed below the projection it
    would re-evaluate the md5 expression ~6x per row inside a Filter
    node, where codegen does no subexpression elimination. Pins both
    the semantics (no row ever drops) and the plan (no Filter carries
    the hash)."""
    maps = load_mappings(
        [
            {"output_field": "participant.participant_id",
             "source_field": "[uuid]",
             "replacement_values": [{"old_value": "*", "new_value": "{uuid}"}]},
            {"output_field": "participant.sex_at_birth", "source_field": "sex"},
        ]
    )
    df = spark.createDataFrame(
        [(1, "female"), (2, None), (3, "male")], "rid long, sex string"
    )
    out = build_node(df, "participant", maps, _ctx(), explode_subrecords=False)
    rows = out.collect()
    assert len(rows) == 3  # nothing can drop: the id never blanks
    assert all(r["participant_id"] and len(r["participant_id"]) == 36 for r in rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Filter" in line:
            assert "md5" not in line, "uuid hash pushed into a Filter node"


def test_build_node_mixed_groups_keep_required_filter(spark):
    """never_blank is an INTERSECTION across union groups: when one
    type group lacks the required prop (unionByName null-fills it),
    the P6 filter must still run — only props provably non-blank in
    EVERY group may skip it."""
    maps = load_mappings(
        [
            # group 1 emits a {uuid} id; group 2 does NOT map the id at
            # all, so its records surface with a null participant_id
            {"output_field": "participant.participant_id",
             "source_field": "[uuid]", "type_group_index": "1",
             "replacement_values": [{"old_value": "*", "new_value": "{uuid}"}]},
            {"output_field": "participant.sex_at_birth",
             "source_field": "sex", "type_group_index": "1"},
            {"output_field": "participant.race",
             "source_field": "race", "type_group_index": "2"},
        ]
    )
    df = spark.createDataFrame(
        [(1, "female", "Asian")], "rid long, sex string, race string"
    )
    out = build_node(df, "participant", maps, _ctx(), explode_subrecords=False)
    rows = out.collect()
    # group 2's record has a null id and must be DROPPED by P6
    assert len(rows) == 1
    assert rows[0]["participant_id"] is not None


def test_never_blank_gated_to_plain_string_props():
    """The {uuid} non-blank proof only survives schema_convert's plain
    no-enum string path: an enum prop nulls values outside its PV list
    and an integer prop's cast nulls the hex string, so never_blank
    (and the P6 filter skip it licenses) must stay False there —
    otherwise an always-null required column silently passes P6
    (ADVICE r9, mapping/compiler.py never_blank gate)."""
    def uuid_map(target):
        return load_mappings(
            [{"output_field": target, "source_field": "[uuid]",
              "replacement_values": [{"old_value": "*", "new_value": "{uuid}"}]}]
        )[0]

    # plain string, no enum: the proof holds
    cf = compile_field(uuid_map("participant.participant_id"), _ctx())
    assert cf.never_blank
    # enum-constrained string: enum_case_normalize nulls the md5 hex
    cf = compile_field(uuid_map("participant.sex_at_birth"), _ctx())
    assert not cf.never_blank
    # integer prop: int-round cast nulls the hex string
    cf = compile_field(uuid_map("diagnosis.age_at_diagnosis"), _ctx())
    assert not cf.never_blank
