"""Validation runners.

X1 — JSON-Schema validation, two tiers mirroring SURVEY §4's plan:
  * ``frame_violations``: column-level checks COMPILED from the schema
    (required non-blank, enum membership, numeric bounds) that run
    distributed over any DataFrame — the 100 TB path; returns a
    violations DataFrame instead of raising, so callers can count,
    sample, or quarantine.
  * ``document_errors`` / ``validate_document``: the assembled
    harmonized doc checked against the generated JSON Schema with the
    ``jsonschema`` library — the reference's golden oracle
    (_is_json_etl_data_valid, etl/ccdi/c3dc_etl.py:419-456), driver-side
    and byte-faithful.

X3 — referential integrity over the node graph: every link id must
resolve to an existing record (left_anti joins must be empty;
_validate_merged_harmonized_node_data, etl/target/c3dc_etl.py:1663-1815).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from c3dc_etl_spark.functions.columns import missing_required
from c3dc_etl_spark.schema.registry import SchemaRegistry


def frame_violations(df: DataFrame, node: str, registry: SchemaRegistry) -> DataFrame:
    """Distributed X1: one output row per (record id, property, error).
    The checks are generated from the node schema and run in one pass
    over the frame: each row builds an array with one
    ``when(check, struct(property, error))`` entry per check, drops the
    null entries (checks that passed) and explodes the rest."""
    node_def = registry.node(node)
    id_col = (
        F.col(node_def.id_field).cast("string")
        if node_def.id_field in df.columns
        else F.lit(None).cast("string")
    )
    checks: list[tuple[str, F.Column, str]] = []
    for p in node_def.props:
        if p.name not in df.columns:
            if p.required:
                raise ValueError(f"{node}.{p.name} is required but absent from the frame")
            continue
        c = F.col(p.name)
        if p.required:
            checks.append(
                (p.name, missing_required(c, p.type), "required property missing")
            )
        if p.enum:
            if p.type == "array":
                bad = c.isNotNull() & (
                    F.size(F.array_except(c, F.array(*[F.lit(v) for v in p.enum]))) > 0
                )
            else:
                bad = c.isNotNull() & ~c.isin(*p.enum)
            checks.append((p.name, bad, "value not in permissible list"))
        if p.maximum is not None:
            checks.append((p.name, c.isNotNull() & (c > p.maximum), f"value above maximum {p.maximum}"))
        if p.minimum is not None:
            checks.append((p.name, c.isNotNull() & (c < p.minimum), f"value below minimum {p.minimum}"))
        if p.type == "array":
            # model arrays declare uniqueItems: true
            checks.append(
                (
                    p.name,
                    c.isNotNull() & (F.size(c) != F.size(F.array_distinct(c))),
                    "array items not unique",
                )
            )

    if not checks:
        schema = "record_id string, property string, error string"
        return df.sparkSession.createDataFrame([], schema)
    failed = F.array_compact(
        F.array(
            *[
                F.when(pred, F.struct(F.lit(prop).alias("property"), F.lit(err).alias("error")))
                for prop, pred, err in checks
            ]
        )
    )
    return df.select(id_col.alias("record_id"), F.explode(failed).alias("v")).select(
        "record_id", "v.property", "v.error"
    )


def referential_violations(
    frames: dict[str, DataFrame], registry: SchemaRegistry
) -> DataFrame:
    """Distributed X3: for every child->parent link field present, emit
    child ids whose parent id does not resolve (left_anti join; empty =
    valid)."""
    out: list[DataFrame] = []
    for node, df in frames.items():
        for link in registry.links(node):
            if link.is_array or link.field_name not in df.columns:
                continue
            parent_df = frames.get(link.remote_node)
            if parent_df is None:
                continue
            parent_ids = parent_df.select(
                F.col(registry.node(link.remote_node).id_field).alias("__pid")
            )
            # link field names contain a literal '.' — backtick-quote so
            # F.col doesn't parse struct access
            missing = (
                df.select(
                    F.col(registry.node(node).id_field).cast("string").alias("record_id"),
                    F.col(f"`{link.field_name}`").alias("__ref"),
                )
                .filter(F.col("__ref").isNotNull())
                .join(parent_ids, F.col("__ref") == F.col("__pid"), "left_anti")
                .select(
                    "record_id",
                    F.lit(node).alias("node"),
                    F.lit(link.field_name).alias("property"),
                    F.col("__ref").alias("unresolved_id"),
                )
            )
            out.append(missing)
    if not out:
        raise ValueError("no link fields found to validate")
    return functools.reduce(lambda a, b: a.unionByName(b), out)


def responses_without_treatment(
    responses: DataFrame,
    treatments: DataFrame,
    *,
    participant_col: str = "participant.participant_id",
    response_col: str = "response",
    complete_remission_value: str = "Complete Remission",
) -> DataFrame:
    """X5: participants with treatment responses but NO treatment
    records — per-participant response counts with the Complete
    Remission breakdown the reference reports
    (etl/mci/c3dc_etl.py:2313-2347). left_anti join + one aggregate."""
    pc = F.col(f"`{participant_col}`")
    treated = treatments.select(pc.alias("__pid")).distinct()
    orphans = responses.select(
        pc.alias("participant_id"), F.col(response_col).alias("__resp")
    ).join(treated, F.col("participant_id") == F.col("__pid"), "left_anti")
    return orphans.groupBy("participant_id").agg(
        F.count(F.lit(1)).alias("n_responses"),
        F.count(F.when(F.col("__resp") == complete_remission_value, 1)).alias(
            "n_complete_remission"
        ),
    )


def _inline_refs(schema: dict) -> dict:
    """A copy of a generated bundle with each ``{"$ref": "#/$defs/<n>"}``
    replaced by its ``$defs`` entry (the bundle has no recursive refs).
    It validates as the bundle does, without a ref lookup per record."""
    defs = schema.get("$defs", {})

    def inline(node):
        if isinstance(node, dict):
            ref = node.get("$ref")
            if len(node) == 1 and isinstance(ref, str) and ref.startswith("#/$defs/"):
                return inline(defs[ref.removeprefix("#/$defs/")])
            return {k: inline(v) for k, v in node.items() if k != "$defs"}
        if isinstance(node, list):
            return [inline(v) for v in node]
        return node

    return inline(schema)


def document_errors(doc: dict, registry: SchemaRegistry | None = None) -> list[str]:
    """Driver-side X1 against the generated draft-2020-12 schema; returns
    '<json_path>: <message>' strings (empty = valid), like the
    reference's iter_errors loop (etl/ccdi/c3dc_etl.py:437-456)."""
    import jsonschema

    registry = registry or SchemaRegistry()
    validator = jsonschema.Draft202012Validator(_inline_refs(registry.to_json_schema()))
    return [
        f"{e.json_path}: {e.message}"
        for e in sorted(validator.iter_errors(doc), key=lambda e: e.json_path)
    ]


def validate_document(doc: dict, registry: SchemaRegistry | None = None) -> None:
    """Raise with every error listed when the document is invalid."""
    errors = document_errors(doc, registry)
    if errors:
        raise ValueError("harmonized document failed schema validation:\n" + "\n".join(errors))
