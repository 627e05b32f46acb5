"""Merge-layer + link-wiring unit tests (D1/D2, R5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from c3dc_etl_spark.link import wire_links
from c3dc_etl_spark.merge import (
    canonical_fingerprint,
    first_wins_merge,
    reconciliation_counts,
)
from c3dc_etl_spark.schema.registry import SchemaRegistry

REG = SchemaRegistry()


def _fps(spark, rows, schema, node="diagnosis"):
    df = spark.createDataFrame(rows, schema)
    fp = canonical_fingerprint(node, REG, frame_columns=df.columns)
    return [r[0] for r in df.select(fp).collect()]


def test_fingerprint_ignores_own_and_link_ids(spark):
    schema = (
        "diagnosis_id string, `participant.participant_id` string, "
        "diagnosis string, age_at_diagnosis long"
    )
    a, b, c = _fps(
        spark,
        [
            ("d1", "p1", "8000/0 : Neoplasm, benign", 10),
            ("d2", "p9", "8000/0 : Neoplasm, benign", 10),  # only ids differ
            ("d3", "p1", "8000/0 : Neoplasm, benign", 11),  # content differs
        ],
        schema,
    )
    assert a == b
    assert a != c


def test_fingerprint_sorts_arrays_and_handles_null(spark):
    schema = "diagnosis_id string, anatomic_site array<string>, diagnosis string"
    a, b, c = _fps(
        spark,
        [
            ("d1", ["C71.9 : Brain, NOS", "C42.1 : Bone marrow"], "x"),
            ("d2", ["C42.1 : Bone marrow", "C71.9 : Brain, NOS"], "x"),  # order-insensitive
            ("d3", None, "x"),
        ],
        schema,
    )
    assert a == b
    assert a != c


def test_fingerprint_reference_file_volatile_guid(spark):
    schema = "reference_file_id string, file_name string, dcf_indexd_guid string"
    rows = [("r1", "f.json", "guid-AAA"), ("r2", "f.json", "guid-BBB")]
    df = spark.createDataFrame(rows, schema)
    fp = canonical_fingerprint("reference_file", REG, frame_columns=df.columns)
    got = [r[0] for r in df.select(fp).collect()]
    assert got[0] == got[1]  # dcf_indexd_guid blanked per reference


def test_first_wins_merge_ordinal_and_tiebreak(spark):
    schema = "diagnosis_id string, participant_id string, diagnosis string"
    t1 = spark.createDataFrame(
        [("a2", "p1", "dx"), ("a1", "p1", "dx")], schema  # same content twice
    )
    t2 = spark.createDataFrame([("b1", "p1", "dx"), ("b9", "p2", "dx")], schema)
    merged = first_wins_merge([t1, t2], "diagnosis", REG, key_cols=("participant_id",))
    rows = {(r["participant_id"]): r for r in merged.collect()}
    assert rows["p1"]["diagnosis_id"] == "a1"  # ord 1 wins, min-id tiebreak
    assert rows["p1"]["won_ord"] == 1
    assert rows["p2"]["diagnosis_id"] == "b9"  # only in ord 2
    assert rows["p2"]["won_ord"] == 2


def test_reconciliation_counts_match(spark):
    schema = "diagnosis_id string, participant_id string, diagnosis string"
    t1 = spark.createDataFrame([("a1", "p1", "dx1"), ("a2", "p2", "dx2")], schema)
    t2 = spark.createDataFrame([("b1", "p1", "dx1"), ("b2", "p3", "dx3")], schema)
    merged = first_wins_merge([t1, t2], "diagnosis", REG)
    row = reconciliation_counts(merged, [t1, t2], "diagnosis", REG).collect()[0]
    assert row["distinct_unmerged"] == row["distinct_merged"] == 3


def test_wire_links_builds_sorted_child_arrays(spark):
    participants = spark.createDataFrame(
        [("p1",), ("p2",)], "participant_id string"
    )
    diagnoses = spark.createDataFrame(
        [("d2", "p1"), ("d1", "p1"), ("d3", "p2")],
        ["diagnosis_id", "participant.participant_id"],
    )
    wired = wire_links({"participant": participants, "diagnosis": diagnoses}, REG)
    rows = {r["participant_id"]: r for r in wired["participant"].collect()}
    assert rows["p1"]["diagnosis.diagnosis_id"] == ["d1", "d2"]  # sorted (O2)
    assert rows["p2"]["diagnosis.diagnosis_id"] == ["d3"]
    # child frame untouched
    assert set(wired["diagnosis"].columns) == set(diagnoses.columns)


def _csv_parts(spark, root, n=120):
    """Two overlapping per-transformation participant CSVs, read lazily
    so that a consumer re-running the merge lineage would show file
    scans in its plan."""
    sexes = ("Female", "Male", "Unknown", "bogus")
    parts = []
    for t, offset in (("t1", 0), ("t2", n // 2)):
        path = root / f"{t}.csv"
        lines = ["participant_id,sex_at_birth"] + [
            f"P{i},{sexes[i % len(sexes)]}" for i in range(offset, offset + n)
        ]
        path.write_text("\n".join(lines) + "\n")
        parts.append(spark.read.option("header", True).csv(str(path)))
    return parts


def _final_plan(df) -> str:
    """The executed plan's final (AQE) part; call after an action."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_merge_consumers_read_the_materialized_merge(spark, tmp_path):
    """first_wins_merge runs the merge once: reconciliation reads the
    stored blocks on its merged side (its only file scans are the
    unmerged inputs') and frame_violations on the merged frame re-runs
    neither the window nor a scan."""
    from c3dc_etl_spark.validate import frame_violations

    parts = _csv_parts(spark, tmp_path)
    merged = first_wins_merge(parts, "participant", REG, key_cols=("participant_id",))
    counts = reconciliation_counts(merged, parts, "participant", REG)
    row = counts.collect()[0]
    assert row["distinct_unmerged"] == row["distinct_merged"] == 4  # ids are blanked
    plan = _final_plan(counts)
    assert "Window" not in plan
    assert plan.count("FileScan") == len(parts)

    violations = frame_violations(merged.drop("fingerprint", "won_ord"), "participant", REG)
    assert violations.count() == 45  # every 'bogus' sex_at_birth, P0..P179
    plan = _final_plan(violations)
    assert "Window" not in plan
    assert "FileScan" not in plan


def test_merge_blocks_live_as_long_as_the_frame(spark, tmp_path):
    """The materialized merge is stored while the frame is referenced
    and freed by Spark's ContextCleaner once it is dropped: nothing has
    to release it."""
    import gc
    import time

    sc = spark.sparkContext

    def stored() -> set[int]:
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    before = stored()
    merged = first_wins_merge(
        _csv_parts(spark, tmp_path), "participant", REG, key_cols=("participant_id",)
    )
    ours = stored() - before
    assert ours, "the merge stored no blocks"
    assert merged.count() == 180
    del merged
    deadline = time.monotonic() + 60
    while ours & stored() and time.monotonic() < deadline:
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.2)
    assert not ours & stored(), "merge blocks outlived the frame"


def test_merge_materialization_shuffles_once(spark, tmp_path):
    """The checkpoint hides the merge plan from tests/plan_budget.json,
    so fence the materialization itself: the jobs first_wins_merge runs
    write exactly one shuffle, the window's fingerprint partitioning of
    every unioned row."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    parts = _csv_parts(spark, tmp_path)
    group = "test-merge-materialization"
    sc.setJobGroup(group, "first_wins_merge")
    try:
        first_wins_merge(parts, "participant", REG, key_cols=("participant_id",))
    finally:
        sc._jsc.clearJobGroup()
    jobs = tracker.getJobIdsForGroup(group)
    shuffle_records = []
    for sid in {s for j in jobs for s in tracker.getJobInfo(j).stageIds}:
        attempts = store.stageData(
            sid, False, spark._jvm.java.util.ArrayList(), False, no_quantiles
        )
        for i in range(attempts.size()):
            a = attempts.apply(i)
            if a.status().toString() != "SKIPPED" and a.shuffleWriteBytes() > 0:
                shuffle_records.append(a.shuffleWriteRecords())
    assert shuffle_records == [240], shuffle_records
