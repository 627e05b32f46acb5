"""Tests of the benchmark's own logic: span arithmetic, counter
attribution, input determinism and the correctness checks.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import json
from pathlib import Path

import pytest

from perfbench import gen, run
from perfbench.tracer import Span, Tracer, covered, self_times

ROOT = Path(__file__).resolve().parent.parent


def _span(name, parent, start, end, **counters):
    s = Span(name, parent, f"g-{name}", start, end)
    s.counters = {"jobs": 0.0, **counters}
    return s


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3


def test_self_time_subtracts_children_once():
    spans = [
        _span("op", None, 0.0, 10.0),
        _span("plans.run_study", 0, 1.0, 6.0),
        _span("harmonize", 1, 2.0, 3.0),
        _span("link", 1, 2.5, 4.0),  # overlaps its sibling
        _span("sink.assemble", 0, 6.0, 9.0),
    ]
    assert self_times(spans) == pytest.approx([2.0, 3.0, 1.0, 1.5, 3.0])


def test_layer_metrics_name_and_sum_spans():
    spans = [
        {"name": "op", "parent": None, "self_s": 0.5, "cpu_s": 0.0,
         "counters": {"jobs": 1.0, "tasks": 1.0, "input_mb": 0.0, "peak_exec_mem_mb": 8.0}},
        {"name": "sources", "parent": 0, "self_s": 2.0, "cpu_s": 0.1,
         "counters": {"jobs": 2.0, "tasks": 6.0, "input_mb": 3.0, "peak_exec_mem_mb": 4.0}},
        {"name": "plans.run_study", "parent": 0, "self_s": 1.0, "cpu_s": 0.2,
         "counters": {"jobs": 3.0, "tasks": 3.0, "input_mb": 1.0, "peak_exec_mem_mb": 2.0}},
        {"name": "plans.run_study", "parent": 0, "self_s": 1.5, "cpu_s": 0.2,
         "counters": {"jobs": 4.0, "tasks": 4.0, "input_mb": 1.0, "peak_exec_mem_mb": 16.0}},
        {"name": "validate.document", "parent": 0, "self_s": 3.0, "cpu_s": 2.5,
         "counters": {"jobs": 0.0, "tasks": 0.0, "input_mb": 0.0, "peak_exec_mem_mb": 0.0}},
    ]
    result = {"records": 7, "output_bytes": 1024 * 1024, "violations": 3}
    m = run.layer_metrics(spans, result, source_mb=2.0)
    assert set(m) == set(run.PER_LAYER)
    assert m["trace.unattributed_s"] == 0.5
    assert m["sources.s"] == 2.0 and m["sources.jobs"] == 2.0 and m["sources.tasks"] == 6.0
    assert m["plans.run_study_s"] == 2.5 and m["plans.run_study_jobs"] == 7.0
    assert m["validate.document_cpu_s"] == 2.5
    assert m["spark.jobs"] == 10.0 and m["spark.tasks"] == 14.0
    assert m["spark.peak_exec_mem_mb"] == 16.0
    assert m["spark.scan_amplification"] == 2.5
    assert (m["sink.records"], m["sink.output_mb"], m["validate.violations"]) == (7, 1.0, 3)
    assert m["merge.s"] == 0.0  # a layer the workload does not reach reads 0


def test_benchmark_json_lists_the_runner_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    for w in spec["workloads"]:  # each why states the generator's input sizes
        for phrase in gen.size_phrases(w["name"]):
            assert phrase in w["why"], (w["name"], phrase)


@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_inputs_are_a_function_of_the_seed(tmp_path, name):
    def files(seed, sub):
        params = gen.GENERATORS[name](seed, str(tmp_path / sub))
        contents = {p.relative_to(tmp_path / sub): p.read_bytes()
                    for p in sorted((tmp_path / sub).rglob("*")) if p.is_file()}
        return params, contents

    assert files(7, "a") == files(7, "b")
    assert files(7, "a") != files(8, "c")


def test_check_rejects_a_perturbed_document(tmp_path):
    from perfbench import oracle, workloads

    gen.mci_subject_json(5, str(tmp_path))
    want = workloads.expected_summary("mci_subject_json", oracle.mci_subject_json(str(tmp_path)))
    assert want["counts"]["participants"] == gen.MCI_SUBJECTS
    good = {"summary": copy.deepcopy(want), "sha256": "a" * 64}
    assert workloads.check(good, want, "a" * 64) == []

    bad = copy.deepcopy(good)
    bad["summary"]["treatment_ages"][0] += 1  # one birth date resolved wrongly
    assert any("treatment_ages" in e for e in workloads.check(bad, want, None))

    bad = copy.deepcopy(good)
    bad["summary"]["counts"]["survivals"] -= 1  # one record dropped
    assert any("counts" in e for e in workloads.check(bad, want, None))

    assert any("sha256" in e for e in workloads.check(good, want, "b" * 64))


def test_check_rejects_a_wrong_suite_hash(tmp_path):
    from perfbench import oracle, workloads
    from perfbench.suite import SUITE_QUERIES

    gen.operator_suite(5, str(tmp_path))
    want = workloads.expected_summary("operator_suite", oracle.operator_suite(str(tmp_path)))
    assert set(want) == set(SUITE_QUERIES)
    assert all(rows > 0 for rows, _cols, _hash in want.values())
    good = {"summary": copy.deepcopy(want), "sha256": "a" * 64}
    assert workloads.check(good, want, "a" * 64) == []

    bad = copy.deepcopy(good)
    rows, cols, _ = bad["summary"]["q3_top_orders"]
    bad["summary"]["q3_top_orders"] = (rows, cols, "0" * 32)
    errors = workloads.check(bad, want, None)
    assert len(errors) == 1 and errors[0].startswith("q3_top_orders:")


def test_value_hash_ignores_row_and_column_order():
    from perfbench.oracle import value_hash

    h = value_hash([(1, "a", None), (2, "b", 0.5)], ["x", "y", "z"])
    assert h == value_hash([(0.5, "b", 2), (None, "a", 1)], ["z", "y", "x"])
    assert h != value_hash([(1, "a", None), (2, "b", 0.25)], ["x", "y", "z"])


def test_merge_oracle_counts_the_seeded_violations(tmp_path):
    from perfbench import oracle

    gen.merge_publish(3, str(tmp_path))
    want = oracle.merge_publish(str(tmp_path))
    assert want["participants"] == gen.LAB_SUBJECTS
    # about 1% of events are seeded out of range; the merge keeps each once
    assert 0.5 * gen.LAB_VIOLATION_RATE < want["violations"] / want["laboratory_tests"] < 2 * gen.LAB_VIOLATION_RATE
    assert want["lab_fingerprints"] <= want["laboratory_tests"] <= gen.LAB_EVENTS


@pytest.fixture(scope="module")
def spark():
    from c3dc_etl_spark.session import get_spark

    s = get_spark("perfbench-test", **{"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _noop_scan(spark, partitions: int) -> None:
    """One job of one stage with ``partitions`` tasks: a 6,000-row range
    (lineitem at sf0.001) written to the no-op sink."""
    spark.range(0, 6000, 1, partitions).write.format("noop").mode("overwrite").save()


def test_counters_go_to_the_innermost_span(spark):
    for _ in range(2):  # a second pass must not see the first pass's jobs
        t = Tracer(spark, enabled=True)
        with t.span("op"):
            _noop_scan(spark, 3)
            with t.span("sources"):
                _noop_scan(spark, 5)
                _noop_scan(spark, 2)
        t.read_counters()
        op, sources = t.spans
        assert (op.counters["jobs"], op.counters["tasks"]) == (1, 3)
        assert (sources.counters["jobs"], sources.counters["tasks"]) == (2, 7)
        assert sources.parent == 0 and op.group != sources.group
        selfs = self_times(t.spans)
        assert selfs[0] == pytest.approx(op.wall_s - sources.wall_s)


def test_untraced_tracer_records_nothing(spark):
    t = Tracer(spark)
    with t.span("op"):
        _noop_scan(spark, 2)
    t.read_counters()
    assert t.spans == []
