"""Golden end-to-end: engine build -> document assembly -> JSON-Schema
validation (the reference's oracle: run the ETL, validate the output,
etl/target/test/test_c3dc_etl.py:439-449)."""

from __future__ import annotations

import json


import pytest

from c3dc_etl_spark.harmonize.builder import build_node
from c3dc_etl_spark.mapping.compiler import CompilerContext
from c3dc_etl_spark.mapping.model import load_mappings
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
