"""The benchmark's workloads: three study runs and the operator suite.

One operation of a study workload is one full study run over the
generated inputs; one operation of ``operator_suite`` is one collect of
each query in SUITE_QUERIES. Each call into a layer of the program is
wrapped in a tracer span named after the layer's module; with tracing
off the spans cost nothing. An operation returns what the correctness
check needs: a summary of the output read back from the engine, and the
SHA-256 of the output document.
"""

from __future__ import annotations

import glob
import hashlib
import os
from contextlib import contextmanager
from dataclasses import dataclass

import c3dc_etl_spark.plans.study as study_plan
from c3dc_etl_spark.harmonize.builder import build_node
from c3dc_etl_spark.link import wire_links
from c3dc_etl_spark.mapping.compiler import CompilerContext
from c3dc_etl_spark.mapping.model import load_mappings, mapping_errors
from c3dc_etl_spark.merge import first_wins_merge, reconciliation_counts
from c3dc_etl_spark.rowmapped import build_rowmapped_node, parse_rule_rows, rule_errors
from c3dc_etl_spark.schema.registry import SchemaRegistry
from c3dc_etl_spark.sink import assemble_document
from c3dc_etl_spark.sink.document import save_harmonized_json, write_node_json
from c3dc_etl_spark.sources import read_delimited, read_subject_documents
from c3dc_etl_spark.validate import frame_violations, referential_violations, validate_document

from perfbench.oracle import result_key
from perfbench.suite import SUITE_QUERIES

REG = SchemaRegistry()
SCHEMA_PROPS = {n: {p.name for p in REG.node(n).props} for n in REG.node_names}

UUID = [{"old_value": "*", "new_value": "{uuid}"}]

STUDY_MAPPINGS = [
    {"output_field": "participant.participant_id", "source_field": "pid"},
    {"output_field": "participant.sex_at_birth", "source_field": "sex",
     "replacement_values": [
         {"old_value": "1", "new_value": "Male"},
         {"old_value": "2", "new_value": "Female"},
         {"old_value": "+", "new_value": "Unknown"},
     ]},
    {"output_field": "participant.race", "source_field": "[race, eth]",
     "replacement_values": [{"old_value": "*", "new_value": "{race}"}]},
    {"output_field": "diagnosis.diagnosis_id", "source_field": "dxid"},
    {"output_field": "diagnosis.diagnosis", "source_field": "dx_code",
     "replacement_values": [{"old_value": "+", "new_value": "{find_enum_value}"}]},
    {"output_field": "diagnosis.age_at_diagnosis", "source_field": "age_dx"},
    {"output_field": "diagnosis.tumor_classification", "source_field": "[Primary]"},
    {"output_field": "survival.survival_id", "source_field": "[uuid]", "replacement_values": UUID},
    {"output_field": "survival.last_known_survival_status", "source_field": "status",
     "replacement_values": [
         {"old_value": "a", "new_value": "Alive"},
         {"old_value": "d", "new_value": "Dead"},
     ]},
    {"output_field": "survival.age_at_last_known_survival_status", "source_field": "age_fu"},
]

LAB_MAPPINGS = [
    {"output_field": "participant.participant_id", "source_field": "pid"},
    {"output_field": "participant.sex_at_birth", "source_field": "sex",
     "replacement_values": [
         {"old_value": "1", "new_value": "Male"},
         {"old_value": "2", "new_value": "Female"},
         {"old_value": "+", "new_value": "Unknown"},
     ]},
    {"output_field": "laboratory_test.laboratory_test_id", "source_field": "[uuid]",
     "replacement_values": UUID},
    {"output_field": "laboratory_test.test_name", "source_field": "test"},
    {"output_field": "laboratory_test.test_result_numeric", "source_field": "result"},
    {"output_field": "laboratory_test.test_units", "source_field": "units"},
    {"output_field": "laboratory_test.age_at_laboratory_test", "source_field": "age"},
]

STUDY_RULES = [
    {
        "Source Variable Name": "chemo",
        "Source Permissible Values Code": "yes",
        "treatment.treatment_id": "{uuid}",
        "treatment.treatment_type": "Chemotherapy",
        "treatment.age_at_treatment_start": "{sum_abs_first(tx_age, '30')}",
    },
]

MCI_FIELDS = ("DM_SEX", "DM_BRTHDAT", "FU_STATUS", "FU_AGE", "TX_CHEMO", "TX_AGE")
MCI_MAPPINGS = [
    {"output_field": "participant.participant_id", "source_field": "usi"},
    {"output_field": "participant.sex_at_birth", "source_field": "DM_SEX",
     "replacement_values": [
         {"old_value": "F", "new_value": "Female"},
         {"old_value": "M", "new_value": "Male"},
         {"old_value": "+", "new_value": "Unknown"},
     ]},
    {"output_field": "survival.survival_id", "source_field": "[uuid]", "replacement_values": UUID},
    {"output_field": "survival.last_known_survival_status", "source_field": "FU_STATUS"},
    {"output_field": "survival.age_at_last_known_survival_status", "source_field": "FU_AGE"},
]
MCI_RULES = [
    {
        "Source Variable Name": "TX_CHEMO",
        "Source Permissible Values Code": "yes",
        "treatment.treatment_id": "{uuid}",
        "treatment.treatment_type": "Chemotherapy",
        "treatment.age_at_treatment_start": "{sum_abs_first(DM_BRTHDAT, TX_AGE)}",
    },
]


@dataclass
class Env:
    spark: object
    inputs: str
    out: str
    params: dict


def _checked_mappings(raw: list[dict]):
    maps = load_mappings(raw)
    errors = mapping_errors(maps, schema_props=SCHEMA_PROPS)
    if errors:
        raise ValueError("mapping validation failed: " + "; ".join(errors))
    return maps


def _checked_rules(raw: list[dict], node: str):
    rules = parse_rule_rows(raw, node)
    errors = rule_errors(rules, node, REG)
    if errors:
        raise ValueError("rule validation failed: " + "; ".join(errors))
    return rules


def _link_histogram(records: list[dict], child: str) -> dict[int, int]:
    hist: dict[int, int] = {}
    for r in records:
        k = len(r.get(f"{child}.{child}_id", []))
        hist[k] = hist.get(k, 0) + 1
    return hist


def _document_summary(doc: dict, children: tuple[str, ...]) -> dict:
    return {
        "counts": {plural: len(recs) for plural, recs in doc.items()},
        "links": {c: _link_histogram(doc["participants"], c) for c in children},
    }


def _save(doc: dict, path: str, t) -> tuple[str, int]:
    """Write the document as one JSON file; its SHA-256 and size."""
    with t.span("sink.save"):
        save_harmonized_json(doc, path)
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest(), os.path.getsize(path)


@contextmanager
def traced_internals(tracer):
    """While tracing, route the node builds and link wiring that
    ``plans.study.run_study`` performs through spans of their own
    layers. The program's modules are left as they were on exit."""
    if not tracer.enabled:
        yield
        return
    saved = study_plan.build_node, study_plan.wire_links
    study_plan.build_node = tracer.wrap("harmonize", saved[0])
    study_plan.wire_links = tracer.wrap("link", saved[1])
    try:
        yield
    finally:
        study_plan.build_node, study_plan.wire_links = saved


def study_document(env: Env, t) -> dict:
    """CCDI shape: per-node CSV tabs -> run_study, plus treatments from a
    row-mapped rule sheet -> assemble -> jsonschema validation -> one
    JSON file."""
    with t.span("sources"):
        src = {
            node: read_delimited(env.spark, f"{env.inputs}/{node}.csv", id_column="pid",
                                 row_numbers=True)
            for node in ("participant", "diagnosis", "survival")
        }
    with t.span("mapping"):
        maps = _checked_mappings(STUDY_MAPPINGS)
        rules = _checked_rules(STUDY_RULES, "treatment")
    with t.span("plans.run_study"), traced_internals(t):
        frames = study_plan.run_study(
            env.spark,
            sources=src,
            mappings=maps,
            uuid_seed=env.params["uuid_seed"],
            registry=REG,
            id_source_cols={"diagnosis": "dxid"},
            parent_links={"diagnosis": ("participant", "pid"), "survival": ("participant", "pid")},
        )
    ctx = CompilerContext(registry=REG, uuid_seed=env.params["uuid_seed"])
    with t.span("rowmapped"):
        frames["treatment"] = build_rowmapped_node(src["participant"], "treatment", rules, ctx)
    with t.span("sink.assemble"):
        doc = assemble_document(frames, REG)
    with t.span("validate.document"):
        validate_document(doc, REG)
    sha, size = _save(doc, f"{env.out}/harmonized.json", t)
    summary = _document_summary(doc, ("diagnosis", "survival"))
    summary["counts"] = {
        "participants": summary["counts"]["participants"],
        "diagnoses": summary["counts"]["diagnoses"],
        "survivals": summary["counts"]["survivals"],
        "treatments": summary["counts"]["treatments"],
    }
    summary["treatment_ages"] = sorted(r["age_at_treatment_start"] for r in doc["treatments"])
    return {
        "summary": summary,
        "sha256": sha,
        "records": sum(len(v) for v in doc.values()),
        "output_bytes": size,
        "violations": 0,
    }


def merge_publish(env: Env, t) -> dict:
    """TARGET shape: run_study per transformation -> first-wins merge
    and reconciliation -> link wiring -> distributed validation ->
    distributed JSON-lines write."""
    with t.span("sources"):
        srcs = [
            {
                node: read_delimited(env.spark, f"{env.inputs}/{tag}/{node}.csv", id_column="pid",
                                     row_numbers=True)
                for node in ("participant", "laboratory_test")
            }
            for tag in ("t1", "t2")
        ]
    with t.span("mapping"):
        maps = _checked_mappings(LAB_MAPPINGS)
    runs = []
    for src, uuid_seed in zip(srcs, env.params["uuid_seeds"]):
        with t.span("plans.run_study"), traced_internals(t):
            runs.append(
                study_plan.run_study(
                    env.spark,
                    sources=src,
                    mappings=maps,
                    uuid_seed=uuid_seed,
                    registry=REG,
                    parent_links={"laboratory_test": ("participant", "pid")},
                )
            )
    keys = {"participant": ("participant_id",), "laboratory_test": ("`participant.participant_id`",)}
    merged, reconciled = {}, {}
    with t.span("merge"):
        for node, key_cols in keys.items():
            parts = [r[node] for r in runs]
            m = first_wins_merge(parts, node, REG, key_cols=key_cols)
            row = reconciliation_counts(m, parts, node, REG).collect()[0]
            reconciled[node] = (row["distinct_unmerged"], row["distinct_merged"])
            merged[node] = m.drop("fingerprint", "won_ord")
    with t.span("link"):
        frames = wire_links(merged, REG)
    with t.span("validate.frames"):
        violations = sum(frame_violations(df, node, REG).count() for node, df in frames.items())
        violations += referential_violations(frames, REG).count()
    with t.span("sink.write"):
        for node, df in frames.items():
            write_node_json(df, f"{env.out}/{node}", single_file=False)
    written, size, digest = {}, 0, hashlib.sha256()
    for node in frames:
        lines: list[bytes] = []
        for part in sorted(glob.glob(f"{env.out}/{node}/part-*")):
            size += os.path.getsize(part)
            with open(part, "rb") as fh:
                lines.extend(fh.read().splitlines())
        written[node] = len(lines)
        # part files split rows arbitrarily: hash the sorted records
        for line in sorted(lines):
            digest.update(line + b"\n")
    return {
        "summary": {
            "written": written,
            "fingerprints": {n: reconciled[n] for n in keys},
            "violations": violations,
        },
        "sha256": digest.hexdigest(),
        "records": sum(written.values()),
        "output_bytes": size,
        "violations": violations,
    }


def mci_subject_json(env: Env, t) -> dict:
    """MCI shape: per-subject JSON directory -> node builds and the
    row-mapped treatment rules -> link wiring -> assemble -> jsonschema
    validation -> one JSON file."""
    with t.span("sources"):
        subjects = read_subject_documents(
            env.spark, env.inputs, fields=MCI_FIELDS, most_negative_fields=("DM_BRTHDAT",)
        )
    with t.span("mapping"):
        maps = _checked_mappings(MCI_MAPPINGS)
        rules = _checked_rules(MCI_RULES, "treatment")
    ctx = CompilerContext(registry=REG, uuid_seed=env.params["uuid_seed"], row_identity=("usi",))
    with t.span("harmonize"):
        frames = {
            "participant": build_node(subjects, "participant", maps, ctx, explode_subrecords=False),
            "survival": build_node(
                subjects, "survival", maps, ctx, explode_subrecords=False,
                carry_columns={"participant.participant_id": "usi"},
            ),
        }
    with t.span("rowmapped"):
        frames["treatment"] = build_rowmapped_node(subjects, "treatment", rules, ctx)
    with t.span("link"):
        frames = wire_links(frames, REG)
    with t.span("sink.assemble"):
        doc = assemble_document(frames, REG)
    with t.span("validate.document"):
        validate_document(doc, REG)
    sha, size = _save(doc, f"{env.out}/harmonized.json", t)
    summary = _document_summary(doc, ("survival",))
    summary["counts"] = {
        "participants": len(doc["participants"]),
        "survivals": len(doc["survivals"]),
        "treatments": len(doc["treatments"]),
    }
    summary["treatment_ages"] = sorted(r["age_at_treatment_start"] for r in doc["treatments"])
    return {
        "summary": summary,
        "sha256": sha,
        "records": sum(len(v) for v in doc.values()),
        "output_bytes": size,
        "violations": 0,
    }


def operator_suite(env: Env, t) -> dict:
    """One collect of each suite query; each result is reduced to its row
    count, column names and value hash, as the oracle's is."""
    from c3dc_etl_spark.suite import REGISTRY  # imports every suite module

    results, rows_out, digest = {}, 0, hashlib.sha256()
    for q in SUITE_QUERIES:
        with t.span(f"suite.{q}"):
            df = REGISTRY[q].fn(env.spark, env.inputs)
            columns = df.columns
            rows = [tuple(r) for r in df.collect()]
        results[q] = result_key(rows, columns)
        rows_out += len(rows)
        digest.update(f"{q}:{results[q][2]}\n".encode())
    return {
        "summary": results,
        "sha256": digest.hexdigest(),
        "records": rows_out,
        "output_bytes": 0,
        "violations": 0,
    }


def expected_summary(name: str, expected: dict) -> dict:
    """The oracle's expectations in the shape an operation's summary
    takes, so a check is one equality test."""
    if name != "merge_publish":
        return expected
    return {
        "written": {"participant": expected["participants"],
                    "laboratory_test": expected["laboratory_tests"]},
        "fingerprints": {
            "participant": (expected["participant_fingerprints"],) * 2,
            "laboratory_test": (expected["lab_fingerprints"],) * 2,
        },
        "violations": expected["violations"],
    }


def check(result: dict, want: dict, first_sha: str | None) -> list[str]:
    """Mismatches between one operation's output and the oracle, plus a
    changed document hash within the run."""
    errors = [
        f"{k}: got {result['summary'].get(k)!r}, want {v!r}"
        for k, v in want.items()
        if result["summary"].get(k) != v
    ]
    if first_sha is not None and result["sha256"] != first_sha:
        errors.append(f"document sha256 changed: {result['sha256']} != {first_sha}")
    return errors


# Operations per call, where one call is more than one: each suite
# query is one operation for ``attempted`` and ``failed``.
OPERATIONS = {"operator_suite": len(SUITE_QUERIES)}

WORKLOADS = {
    "study_document": study_document,
    "merge_publish": merge_publish,
    "mci_subject_json": mci_subject_json,
    "operator_suite": operator_suite,
}
