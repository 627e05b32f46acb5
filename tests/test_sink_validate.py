"""Golden end-to-end: engine build -> document assembly -> JSON-Schema
validation (the reference's oracle: run the ETL, validate the output,
etl/target/test/test_c3dc_etl.py:439-449)."""

from __future__ import annotations

import json
from collections import Counter
from functools import reduce

import pytest
from pyspark.sql import functions as F

from c3dc_etl_spark.harmonize.builder import build_node
from c3dc_etl_spark.mapping.compiler import CompilerContext
from c3dc_etl_spark.mapping.model import load_mappings
from c3dc_etl_spark.schema.model import MODEL, NodeDef, PropDef
from c3dc_etl_spark.schema.registry import SchemaRegistry
from c3dc_etl_spark.sink import assemble_document, node_count_report, save_harmonized_json
from c3dc_etl_spark.validate import (
    document_errors,
    frame_violations,
    referential_violations,
    validate_document,
)

REG = SchemaRegistry()

PARTICIPANT_MAPS = [
    {"output_field": "participant.participant_id", "source_field": "pid"},
    {"output_field": "participant.sex_at_birth", "source_field": "sex"},
    {"output_field": "participant.race", "source_field": "[race_src, eth_src]",
     "replacement_values": [{"old_value": "*", "new_value": "{race}"}]},
]
DIAGNOSIS_MAPS = [
    {"output_field": "diagnosis.diagnosis_id", "source_field": "[uuid]",
     "replacement_values": [{"old_value": "*", "new_value": "{uuid}"}]},
    {"output_field": "diagnosis.diagnosis", "source_field": "dx"},
    {"output_field": "diagnosis.age_at_diagnosis", "source_field": "age"},
    {"output_field": "diagnosis.tumor_classification", "source_field": "[Primary]"},
]


@pytest.fixture(scope="module")
def built_doc(spark):
    ctx = CompilerContext(registry=REG, uuid_seed="golden", row_identity=("pid",))
    participants_src = spark.createDataFrame(
        [("p1", "female", "white;asian", ""), ("p2", "MALE ", "unknown", "hispanic or latino")],
        "pid string, sex string, race_src string, eth_src string",
    )
    diagnoses_src = spark.createDataFrame(
        [("p1", "9500/3 : neuroblastoma, nos", "120.4"),
         ("p2", "8000/0 : Neoplasm, benign", "88.6")],
        "pid string, dx string, age string",
    )
    participants = build_node(
        participants_src, "participant", load_mappings(PARTICIPANT_MAPS), ctx,
        explode_subrecords=False,
    )
    diagnoses = build_node(
        diagnoses_src, "diagnosis", load_mappings(DIAGNOSIS_MAPS), ctx,
        explode_subrecords=False,
    )
    frames = {"participant": participants, "diagnosis": diagnoses}
    doc = assemble_document(frames, REG)
    return frames, doc


def test_document_assembles_and_validates(built_doc, tmp_path):
    frames, doc = built_doc
    assert set(doc) == {"participants", "diagnoses"}
    assert len(doc["participants"]) == 2
    # race macro produced sorted arrays; blank props omitted
    p1 = next(r for r in doc["participants"] if r["participant_id"] == "p1")
    assert p1["race"] == ["Asian", "White"]
    assert p1["sex_at_birth"] == "Female"

    errors = document_errors(doc, REG)
    assert errors == []

    out = tmp_path / "harmonized.json"
    save_harmonized_json(doc, str(out))
    reloaded = json.loads(out.read_text())
    assert reloaded == doc  # byte-stable round trip
    validate_document(reloaded, REG)


def test_invalid_record_fails_validation(built_doc):
    _, doc = built_doc
    bad = json.loads(json.dumps(doc))
    bad["participants"][0]["sex_at_birth"] = "Not A Sex"
    bad["diagnoses"][0].pop("diagnosis")
    bad["participants"][1]["made_up_field"] = 1
    errors = document_errors(bad, REG)
    text = "\n".join(errors)
    assert "Not A Sex" in text                      # enum violation
    assert "'diagnosis' is a required property" in text
    assert "made_up_field" in text                  # additionalProperties: false


def test_document_errors_match_the_ref_form_schema():
    """document_errors validates against the bundle with its $refs
    inlined; the errors, and their order, are those of the bundle as
    saved: wrong types, enums, missing required properties, extra
    properties, a wrong top-level shape, and one record with several
    errors at one path (kept in iter_errors order)."""
    import jsonschema

    dx = "8000/3 : Neoplasm, malignant"
    doc = {
        "participants": [
            {"participant_id": "p1", "sex_at_birth": "Female", "race": ["Asian"]},
            {"participant_id": 7, "sex_at_birth": "Not A Sex"},
            {"sex_at_birth": "Male", "race": "Asian", "made_up": 1, "other": None},
            {"participant_id": "p4", "race": ["Martian", "Martian"]},
        ],
        "diagnoses": [
            {"diagnosis_id": "d1", "diagnosis": dx, "tumor_classification": "Primary",
             "age_at_diagnosis": 10.5, "participant.participant_id": "p1"},
            {"diagnosis_id": "d2", "diagnosis": "nope", "age_at_diagnosis": 99999,
             "anatomic_site": ["C71.9 : Brain, NOS", 3]},
            "not a record",
        ],
        "survivals": {},
        "not_a_node": [],
    }
    schema = REG.to_json_schema()
    ref_form = jsonschema.Draft202012Validator(schema)
    want = [
        f"{e.json_path}: {e.message}"
        for e in sorted(ref_form.iter_errors(doc), key=lambda e: e.json_path)
    ]
    got = document_errors(doc, REG)
    assert got == want
    assert len(got) >= 15
    at_p3 = [e for e in got if e.startswith("$.participants[2]: ")]
    assert len(at_p3) >= 2  # missing participant_id, extra properties
    assert document_errors({"participants": doc["participants"][:1]}, REG) == []
    assert REG.to_json_schema() == schema  # the bundle itself is unchanged


def test_frame_violations_clean_on_built_nodes(built_doc):
    frames, _ = built_doc
    assert frame_violations(frames["diagnosis"], "diagnosis", REG).count() == 0
    assert frame_violations(frames["participant"], "participant", REG).count() == 0


def test_referential_violations_detects_orphan(spark):
    participants = spark.createDataFrame([("p1",)], "participant_id string")
    diagnoses = spark.createDataFrame(
        [("d1", "p1"), ("d2", "ghost")],
        ["diagnosis_id", "participant.participant_id"],
    )
    viol = referential_violations(
        {"participant": participants, "diagnosis": diagnoses}, REG
    ).collect()
    assert [(v["record_id"], v["unresolved_id"]) for v in viol] == [("d2", "ghost")]


def test_assemble_document_matches_sequential_reference(built_doc):
    """The concurrent collect gives the bytes a plain per-node loop
    gives: same key order, records sorted by id, nulls omitted."""
    frames, doc = built_doc
    reference = {}
    for node, df in frames.items():
        id_field = REG.node(node).id_field
        rows = sorted((r.asDict(recursive=True) for r in df.collect()), key=lambda d: d[id_field])
        reference[REG.node(node).plural] = [
            {k: v for k, v in d.items() if v is not None} for d in rows
        ]
    assert list(doc) == ["participants", "diagnoses"]
    assert json.dumps(doc) == json.dumps(reference)
    assert json.dumps(assemble_document(frames, REG)) == json.dumps(reference)


def test_assemble_document_runs_in_callers_job_group(spark, built_doc):
    frames, _ = built_doc
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test-assemble-document"
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "document assembly")
    try:
        assemble_document(frames, REG)
        node_count_report(frames)
    finally:
        sc._jsc.clearJobGroup()
    assert len(tracker.getJobIdsForGroup(group)) >= 2 * len(frames)
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped


def test_node_count_report(built_doc):
    frames, _ = built_doc
    assert node_count_report(frames) == [("diagnosis", 2), ("participant", 2)]


def test_responses_without_treatment(spark):
    from c3dc_etl_spark.validate import responses_without_treatment

    responses = spark.createDataFrame(
        [("r1", "p1", "Complete Remission"),
         ("r2", "p1", "Stable Disease"),
         ("r3", "p2", "Complete Remission")],
        ["treatment_response_id", "participant.participant_id", "response"],
    )
    treatments = spark.createDataFrame(
        [("t1", "p2")], ["treatment_id", "participant.participant_id"]
    )
    rows = {r["participant_id"]: r for r in responses_without_treatment(
        responses, treatments
    ).collect()}
    assert set(rows) == {"p1"}  # p2 has a treatment
    assert rows["p1"]["n_responses"] == 2
    assert rows["p1"]["n_complete_remission"] == 1


def test_assemble_document_orders_like_spark_order_by(spark):
    """The driver-side sort gives Spark's ascending string order: null
    first, UTF-8 byte order (= code point order, so U+FF21 sorts before
    an astral-plane id although UTF-16 would put it after), "10" before
    "9". A node without its id column keeps collect order."""
    ids = ["b", "10", "9", None, "\U0001F600", "\uFF21", "é", "Z", "a", "ä", "100"]
    participants = spark.createDataFrame(
        [(pid, "Female" if i % 2 else None) for i, pid in enumerate(ids)],
        "participant_id string, sex_at_birth string",
    ).repartition(3)
    no_id = spark.createDataFrame([("x",), ("c",), (None,), ("a",)], "diagnosis string")
    doc = assemble_document({"participant": participants, "diagnosis": no_id}, REG)

    def dicts(rows):
        return [{k: v for k, v in r.asDict(recursive=True).items() if v is not None} for r in rows]

    assert doc == {
        "participants": dicts(participants.orderBy("participant_id").collect()),
        "diagnoses": dicts(no_id.collect()),
    }
    assert [r.get("participant_id") for r in doc["participants"]][:4] == [None, "10", "100", "9"]
    assert [r.get("diagnosis") for r in doc["diagnoses"]] == ["x", "c", None, "a"]


def test_assemble_document_rejects_non_string_id_before_collect(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test-assemble-non-string-id"
    frames = {
        "diagnosis": spark.createDataFrame([("d1",)], "diagnosis_id string"),
        "participant": spark.createDataFrame([(2,), (1,)], "participant_id bigint"),
    }
    sc.setJobGroup(group, "non-string id")
    try:
        with pytest.raises(ValueError, match=r"participant\.participant_id .*bigint"):
            assemble_document(frames, REG)
    finally:
        sc._jsc.clearJobGroup()
    assert tracker.getJobIdsForGroup(group) == []


# A node that seeds every compiled check class (its id is optional, so a
# frame may leave it out); "bare" has no checks.
PROBE_REG = SchemaRegistry(
    {
        **MODEL,
        "probe": NodeDef(
            "probe",
            (
                PropDef("probe_id"),
                PropDef("name", required=True),
                PropDef("kinds", "array", enum=("a", "b"), required=True),
                PropDef("size", "integer", required=True, maximum=10, minimum=0),
                PropDef("color", enum=("red", "blue")),
                PropDef("tags", "array"),
            ),
        ),
        "bare": NodeDef("bare", (PropDef("bare_id"), PropDef("note"))),
    }
)

PROBE_ROWS = [
    # probe_id, name, kinds, size, color, tags
    ("ok", "n", ["a"], 5, "red", ["t"]),
    ("blank-name", "  ", ["a"], 5, None, None),
    ("null-name", None, ["b"], 1, None, None),
    ("null-kinds", "n", None, 1, None, None),
    ("empty-kinds", "n", [], 1, None, None),
    ("null-size", "n", ["a"], None, None, None),
    ("bad-color", "n", ["a"], 1, "green", None),
    ("bad-kind", "n", ["a", "c"], 1, None, None),
    ("too-big", "n", ["a"], 11, None, None),
    ("too-small", "n", ["a"], -1, None, None),
    ("dup-kinds", "n", ["a", "a"], 1, None, None),
    ("dup-tags", "n", ["a"], 1, None, ["t", "t"]),
    # several violations on one record
    ("many", "", ["c", "c"], 99, "green", ["t", "t"]),
]
PROBE_SCHEMA = (
    "probe_id string, name string, kinds array<string>, size bigint, "
    "color string, tags array<string>"
)
_REQUIRED = "required property missing"
_ENUM = "value not in permissible list"
_UNIQUE = "array items not unique"
# (property, predicate, error): each check of the probe node, written out
PROBE_CHECKS = [
    ("name", "name IS NULL OR trim(name) = ''", _REQUIRED),
    ("kinds", "kinds IS NULL OR size(filter(kinds, v -> v IS NOT NULL)) = 0", _REQUIRED),
    ("kinds", "size(array_except(kinds, array('a', 'b'))) > 0", _ENUM),
    ("kinds", "size(kinds) != size(array_distinct(kinds))", _UNIQUE),
    ("size", "size IS NULL", _REQUIRED),
    ("size", "size > 10", "value above maximum 10"),
    ("size", "size < 0", "value below minimum 0"),
    ("color", "color NOT IN ('red', 'blue')", _ENUM),
    ("tags", "size(tags) != size(array_distinct(tags))", _UNIQUE),
]


def _union_form(df, id_col):
    """The reference: one filtered select per check, unioned."""
    return reduce(
        lambda a, b: a.unionByName(b),
        [
            df.filter(F.expr(pred)).select(
                id_col.alias("record_id"), F.lit(prop).alias("property"), F.lit(err).alias("error")
            )
            for prop, pred, err in PROBE_CHECKS
        ],
    )


def _multiset(df):
    return Counter(tuple(r) for r in df.collect())


def test_frame_violations_single_pass_matches_union_form(spark):
    df = spark.createDataFrame(PROBE_ROWS, PROBE_SCHEMA)
    got = frame_violations(df, "probe", PROBE_REG)
    assert got.columns == ["record_id", "property", "error"]
    expected = _multiset(_union_form(df, F.col("probe_id")))
    assert _multiset(got) == expected
    # every check fires, and the record with several violations gets one row each
    assert {(p, e) for _, p, e in expected} == {(p, e) for p, _, e in PROBE_CHECKS}
    assert sum(n for (rid, _, _), n in expected.items() if rid == "many") == 6
    # one pass: a single Generate over the frame, no union
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan and plan.count("Generate") == 1


def test_frame_violations_without_id_column(spark):
    df = spark.createDataFrame(PROBE_ROWS, PROBE_SCHEMA).drop("probe_id")
    got = frame_violations(df, "probe", PROBE_REG)
    expected = _multiset(_union_form(df, F.lit(None).cast("string")))
    assert _multiset(got) == expected and sum(expected.values()) == 17
    assert all(r["record_id"] is None for r in got.collect())


def test_frame_violations_without_checks_is_empty_typed_frame(spark):
    df = spark.createDataFrame([("b1", "x")], "bare_id string, note string")
    got = frame_violations(df, "bare", PROBE_REG)
    assert got.collect() == []
    assert got.schema.simpleString() == "struct<record_id:string,property:string,error:string>"
