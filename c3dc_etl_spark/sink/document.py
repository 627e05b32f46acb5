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
from pyspark.sql.types import StringType

from c3dc_etl_spark.schema.registry import SchemaRegistry
from c3dc_etl_spark.session import run_concurrently


def assemble_document(
    node_frames: dict[str, DataFrame],
    registry: SchemaRegistry | None = None,
) -> dict[str, list[dict]]:
    """Collect per-node DataFrames into the reference's document shape:
    ``{plural_node_name: [record dicts]}`` with null properties omitted.
    Records are ordered by the node id field for byte-stable output.

    Each node is one small unsorted collect, independent of the others;
    the collects run concurrently (``session.run_concurrently``), and
    each thread converts its own Rows to dicts and sorts them by id on
    the driver, so no node pays a range-sample job and a sort stage.
    The order is Spark's ascending string order: null ids first, then
    by code point, which is the UTF-8 byte order Spark compares. An id
    column that is not a string raises ``ValueError`` before any
    collect; a node without its id column keeps collect order. Keys
    keep ``node_frames`` order."""
    registry = registry or SchemaRegistry()
    if not node_frames:
        return {}
    sort_keys: dict[str, str | None] = {}
    for node, df in node_frames.items():
        id_field = registry.node(node).id_field
        if id_field not in df.columns:
            sort_keys[node] = None
            continue
        id_type = df.schema[id_field].dataType
        if not isinstance(id_type, StringType):
            raise ValueError(
                f"{node}.{id_field} must be a string column to order the document, "
                f"got {id_type.simpleString()}"
            )
        sort_keys[node] = id_field

    def records(node: str) -> list[dict]:
        recs = [
            {k: v for k, v in row.asDict(recursive=True).items() if v is not None}
            for row in node_frames[node].collect()
        ]
        id_field = sort_keys[node]
        if id_field is not None:
            # (present, id): null ids first, as in Spark's ascending order
            recs.sort(key=lambda r: (id_field in r, r.get(id_field)))
        return recs

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
