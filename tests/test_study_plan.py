"""End-to-end study plan: fixture sources -> mapping program -> wired,
validated harmonized document (the reference's full
create_json_etl_files flow)."""

from __future__ import annotations

import pathlib

import pytest

from c3dc_etl_spark.plans import run_study, run_study_to_document
from c3dc_etl_spark.sources import read_delimited, read_subject_documents

FIXTURES = pathlib.Path(__file__).resolve().parent / "fixtures"

MAPPINGS = [
    # participants from the per-subject JSON directory
    {"output_field": "participant.participant_id", "source_field": "usi"},
    {"output_field": "participant.sex_at_birth", "source_field": "DM_SEX",
     "replacement_values": [
         {"old_value": "F", "new_value": "Female"},
         {"old_value": "M", "new_value": "Male"},
         {"old_value": "+", "new_value": "Unknown"},
     ]},
    # survival from the same wide subject rows
    {"output_field": "survival.survival_id", "source_field": "[uuid]",
     "replacement_values": [{"old_value": "*", "new_value": "{uuid}"}]},
    {"output_field": "survival.last_known_survival_status", "source_field": "FU_STATUS",
     "replacement_values": [
         {"old_value": "alive", "new_value": "Alive"},
         {"old_value": "dead", "new_value": "Dead"},
     ]},
    {"output_field": "survival.age_at_last_known_survival_status",
     "source_field": "FU_AGE"},
    # laboratory tests from the TSV
    {"output_field": "laboratory_test.laboratory_test_id", "source_field": "id"},
    {"output_field": "laboratory_test.test_name", "source_field": "name"},
    {"output_field": "laboratory_test.test_result_numeric", "source_field": "dose"},
]


@pytest.fixture(scope="module")
def study_inputs(spark):
    subjects = read_subject_documents(
        spark, str(FIXTURES / "subjects"),
        fields=("DM_SEX", "DM_BRTHDAT", "FU_STATUS", "FU_AGE"),
        most_negative_fields=("DM_BRTHDAT",),
    )
    labs = read_delimited(
        spark, str(FIXTURES / "clinical.tsv"), sep="\t",
        id_column="id", row_numbers=True,
    )
    return {
        "participant": subjects,
        "survival": subjects.filter("FU_STATUS IS NOT NULL"),
        "laboratory_test": labs,
    }


def test_run_study_end_to_end(spark, study_inputs):
    frames = run_study(
        spark,
        sources=study_inputs,
        mappings=MAPPINGS,
        uuid_seed="study1",
        row_identity=("usi",),
        parent_links={"survival": ("participant", "usi")},
    )
    assert set(frames) == {"participant", "survival", "laboratory_test"}
    parts = {r["participant_id"]: r for r in frames["participant"].collect()}
    assert set(parts) == {"P001", "P002", "P003"}
    assert parts["P001"]["sex_at_birth"] == "Female"
    assert parts["P003"]["sex_at_birth"] is None  # blank DM_SEX: '+' arm needs non-blank
    survs = frames["survival"].collect()
    assert {r["last_known_survival_status"] for r in survs} == {"Alive", "Dead"}
    # R5: survival rows carry their scalar parent link; participants got
    # the wired child-id array
    assert all(r["participant.participant_id"] in parts for r in survs)
    wired = {r["participant_id"]: r["survival.survival_id"] for r in frames["participant"].collect()}
    assert len(wired["P001"]) == 1 and len(wired["P003"]) == 0
    labs = frames["laboratory_test"].collect()
    assert {r["test_result_numeric"] for r in labs} == {1.5, 2.0, None, 4.25}


def test_run_study_to_document_validates(spark, study_inputs):
    doc = run_study_to_document(
        spark,
        sources=study_inputs,
        mappings=MAPPINGS,
        uuid_seed="study1",
        row_identity=("usi",),
        parent_links={"survival": ("participant", "usi")},
    )
    assert set(doc) == {"participants", "survivals", "laboratory_tests"}
    assert len(doc["participants"]) == 3
    # doc passed X1 validation inside run_study_to_document already
    p1 = next(r for r in doc["participants"] if r["participant_id"] == "P001")
    assert p1["survival.survival_id"], "wired link array present in the document"


def test_run_study_duplicate_ids_abort(spark, study_inputs):
    dup = study_inputs["laboratory_test"].unionByName(study_inputs["laboratory_test"])
    with pytest.raises(ValueError, match="duplicate laboratory_test id"):
        run_study(
            spark,
            sources={"laboratory_test": dup},
            mappings=MAPPINGS,
            row_identity=("id",),
        )


def test_run_study_bad_mapping_aborts(spark, study_inputs):
    bad = MAPPINGS + [{"output_field": "participant.not_real", "source_field": "usi"}]
    with pytest.raises(ValueError, match="unknown output property"):
        run_study(spark, sources=study_inputs, mappings=bad, row_identity=("usi",))


def test_run_study_duplicate_ids_name_first_node_in_registry_order(spark, study_inputs):
    """The per-node checks run concurrently; with duplicates in two
    nodes the error still names the first in registry order
    (participant before laboratory_test), whichever check ends first."""
    labs = study_inputs["laboratory_test"]
    subjects = study_inputs["participant"]
    sources = {
        "laboratory_test": labs.unionByName(labs),
        "participant": subjects.unionByName(subjects),
    }
    for _ in range(3):
        with pytest.raises(ValueError, match="duplicate participant id"):
            run_study(spark, sources=sources, mappings=MAPPINGS, row_identity=("usi",))


def test_duplicate_id_checks_run_in_callers_job_group(spark, study_inputs):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test-run-study-dup-checks"
    # the tracker evicts old ids past spark.ui.retainedJobs: compare
    # only ids newer than any ungrouped job seen before the call
    last = max(tracker.getJobIdsForGroup(None), default=-1)
    sc.setJobGroup(group, "duplicate-id checks")
    try:
        frames = run_study(
            spark,
            sources=study_inputs,
            mappings=MAPPINGS,
            uuid_seed="study1",
            row_identity=("usi",),
            parent_links={"survival": ("participant", "usi")},
        )
    finally:
        sc._jsc.clearJobGroup()
    assert len(tracker.getJobIdsForGroup(group)) >= len(frames)
    assert [j for j in tracker.getJobIdsForGroup(None) if j > last] == []


def test_run_study_to_document_reads_duplicates_off_sorted_records(spark, study_inputs, monkeypatch):
    """run_study_to_document runs no eager duplicate-id job; D3 on the
    sorted document records names the same node, id and count as
    run_study's eager check."""
    import c3dc_etl_spark.plans.study as study

    labs = study_inputs["laboratory_test"]
    one = labs.filter("id = '102'")
    sources = {"laboratory_test": labs.unionByName(one).unionByName(one)}
    with pytest.raises(ValueError) as eager:
        run_study(spark, sources=sources, mappings=MAPPINGS, row_identity=("id",))
    assert str(eager.value) == "duplicate laboratory_test id: '102' (x3)"

    def no_eager_check(*args):
        raise AssertionError("eager duplicate-id check ran")

    monkeypatch.setattr(study, "_assert_unique_ids", no_eager_check)
    with pytest.raises(ValueError) as sorted_check:
        run_study_to_document(spark, sources=sources, mappings=MAPPINGS, row_identity=("id",))
    assert str(sorted_check.value) == str(eager.value)
    # registry order across nodes, as in the eager check
    subjects = study_inputs["participant"]
    both = {**sources, "participant": subjects.unionByName(subjects)}
    with pytest.raises(ValueError, match=r"duplicate participant id: 'P001' \(x2\)"):
        run_study_to_document(spark, sources=both, mappings=MAPPINGS, row_identity=("usi",))
    # a clean study still assembles and validates without the eager check
    doc = run_study_to_document(
        spark, sources=study_inputs, mappings=MAPPINGS, uuid_seed="study1",
        row_identity=("usi",), parent_links={"survival": ("participant", "usi")},
    )
    assert len(doc["laboratory_tests"]) == 4
