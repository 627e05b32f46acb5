"""Harmonized JSON document sink (K1/K2).

The reference's output artifact is ONE pretty-printed JSON file
``{pluralized_node: [records]}`` (_save_json_etl_data,
etl/ccdi/c3dc_etl.py:458-464; merged variant etl/target/c3dc_etl.py:
2215-2219). Per-study harmonized datasets are small (10^2-10^5 records),
so parity output collects per-node DataFrames on the driver — the right
call per SURVEY §7.4-3. For datasets that outgrow the driver,
``write_node_json`` is the distributed escape hatch (one JSON-lines
directory per node; same records, no single-file guarantee).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from c3dc_etl_spark.schema.registry import SchemaRegistry
from c3dc_etl_spark.session import run_concurrently


def _clean(value: object) -> object:
    """Row -> plain JSON value; drop nulls (the reference omits unset
    properties rather than writing null)."""
    if isinstance(value, list):
        return [_clean(v) for v in value]
    return value


def assemble_document(
    node_frames: dict[str, DataFrame],
    registry: SchemaRegistry | None = None,
) -> dict[str, list[dict]]:
    """Collect per-node DataFrames into the reference's document shape:
    ``{plural_node_name: [record dicts]}`` with null properties omitted.
    Records are ordered by the node id field for byte-stable output.

    Each node is one small sorted collect, independent of the others;
    the collects run concurrently (``session.run_concurrently``), and
    each thread converts its own Rows to dicts, so no node's Row list
    outlives its conversion. Keys keep ``node_frames`` order."""
    registry = registry or SchemaRegistry()
    if not node_frames:
        return {}

    def records(node: str) -> list[dict]:
        df = node_frames[node]
        id_field = registry.node(node).id_field
        if id_field in df.columns:
            df = df.orderBy(id_field)
        return [
            {k: _clean(v) for k, v in row.asDict(recursive=True).items() if v is not None}
            for row in df.collect()
        ]

    spark = next(iter(node_frames.values())).sparkSession
    per_node = run_concurrently(spark, records, node_frames)
    return {registry.node(n).plural: recs for n, recs in zip(node_frames, per_node)}


def save_harmonized_json(doc: dict, path: str, *, indent: int = 2) -> None:
    """K1: single pretty-printed JSON file, like the reference."""
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f, indent=indent)


def write_node_json(df: DataFrame, path: str, *, single_file: bool = True) -> None:
    """Distributed per-node JSON-lines output for beyond-driver scales.
    ``single_file`` coalesces to one part file (still a directory);
    leave False to keep full write parallelism."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)
