"""The end-to-end harmonization run: sources + mapping program ->
harmonized node frames -> link wiring -> assertions -> document.

This is the engine's analogue of the reference's single entry point
(_create_json_etl_file -> _load_source_data -> _transform_source_data ->
_save_json_etl_data -> validate, etl/ccdi/c3dc_etl.py:1506-1513 and
:1294-1504): a user brings per-node source DataFrames (from the sources
layer), a transformation mapping (JSON or parsed FieldMappings), and
gets back validated node frames / a schema-valid harmonized document.

Execution shape: everything up to the optional assertions and the
document collect is LAZY — per-node builds are narrow projections over
the source scans (row numbering is one of them: its only job runs when
the source is read, ``sources/rownum.py``), link wiring adds one small
groupBy per relationship, and Catalyst sees the whole study as a
handful of independent plans.
The assertions and the document collect are one small action per node;
they run concurrently, so the executors are not idle between them.
``run_study_to_document`` runs no separate assertion action: the
document's records come back sorted by id, and D3 reads the duplicates
off them before any validation or output.
"""

from __future__ import annotations

import itertools
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c3dc_etl_spark.harmonize.builder import build_node
from c3dc_etl_spark.link import wire_links
from c3dc_etl_spark.mapping.compiler import CompilerContext
from c3dc_etl_spark.mapping.model import FieldMapping, load_mappings, mapping_errors
from c3dc_etl_spark.schema.registry import SchemaRegistry
from c3dc_etl_spark.session import run_concurrently
from c3dc_etl_spark.sink import assemble_document
from c3dc_etl_spark.validate import validate_document


def _duplicate_id(node: str, value: object, n: int) -> ValueError:
    return ValueError(f"duplicate {node} id: {value!r} (x{n})")


def _assert_unique_ids(df: DataFrame, node: str, id_field: str) -> None:
    """D3/D4: duplicate `<node>_id` values abort the run (reference
    raises, etl/ccdi/c3dc_etl.py:1475-1485)."""
    dupe = (
        df.groupBy(id_field)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dupe:
        raise _duplicate_id(node, dupe[0][id_field], dupe[0]["n"])


def _assert_unique_sorted_ids(doc: dict, registry: SchemaRegistry) -> None:
    """D3 over an assembled document, whose records are sorted by id:
    the first run of adjacent equal ids raises ``_assert_unique_ids``'s
    message, checking nodes in registry order."""
    for node in registry.node_names:
        node_def = registry.node(node)
        ids = (r.get(node_def.id_field) for r in doc.get(node_def.plural, ()))
        for value, run in itertools.groupby(ids):
            n = sum(1 for _ in run)
            if n > 1:
                raise _duplicate_id(node, value, n)


def run_study(
    spark: SparkSession,
    *,
    sources: Mapping[str, DataFrame],
    mappings: Sequence[FieldMapping] | list[dict],
    uuid_seed: str = "0",
    registry: SchemaRegistry | None = None,
    lookups: Mapping[str, Mapping[str, str]] | None = None,
    row_identity: tuple[str, ...] = ("source_file_row_num",),
    id_source_cols: Mapping[str, str] | None = None,
    parent_links: Mapping[str, tuple[str, str]] | None = None,
    assert_unique_ids: bool = True,
) -> dict[str, DataFrame]:
    """Build every node that has both a source frame and mappings.

    - ``sources``: node -> source DataFrame (sources layer output);
    - ``mappings``: the transformation program (parsed or raw JSON);
    - ``id_source_cols``: node -> source id column for sub-record
      explode suffixing (M2);
    - ``parent_links``: child node -> (parent node, source column
      holding the parent id); populates the child's scalar link and, via
      wire_links, the parent's id array (R5);
    - ``assert_unique_ids``: D3 duplicate-id check per node. The
      per-node checks are independent actions and run concurrently
      (``session.run_concurrently``); when several nodes carry
      duplicates, the error names the first in registry order.
    """
    registry = registry or SchemaRegistry()
    maps = (
        list(mappings)
        if mappings and isinstance(mappings[0], FieldMapping)
        else load_mappings(list(mappings))
    )
    # X2 static validation before any job launches
    schema_props = {n: {p.name for p in registry.node(n).props} for n in registry.node_names}
    errors = mapping_errors(maps, schema_props=schema_props)
    if errors:
        raise ValueError("mapping validation failed:\n" + "\n".join(errors))

    ctx = CompilerContext(
        registry=registry,
        uuid_seed=uuid_seed,
        row_identity=row_identity,
        lookups={k: dict(v) for k, v in (lookups or {}).items()},
    )
    id_source_cols = id_source_cols or {}
    parent_links = parent_links or {}

    frames: dict[str, DataFrame] = {}
    for node in registry.node_names:
        node_maps = [m for m in maps if m.output_node == node]
        if not node_maps or node not in sources:
            continue
        link = parent_links.get(node)
        carry = None
        if link is not None:
            parent_node, src_col = link
            carry = {f"{parent_node}.{parent_node}_id": src_col}
        frames[node] = build_node(
            sources[node],
            node,
            node_maps,
            ctx,
            id_source_col=id_source_cols.get(node),
            carry_columns=carry,
        )

    frames = wire_links(frames, registry)
    if assert_unique_ids:
        run_concurrently(
            spark,
            lambda node: _assert_unique_ids(frames[node], node, registry.node(node).id_field),
            frames,
        )
    return frames


def run_study_to_document(
    spark: SparkSession,
    *,
    sources: Mapping[str, DataFrame],
    mappings: Sequence[FieldMapping] | list[dict],
    validate: bool = True,
    **kwargs,
) -> dict:
    """Full reference parity flow: build -> wire -> assemble -> D3 ->
    X1 validation. Returns the harmonized document dict (K1-ready).

    D3 (``assert_unique_ids``, default on) reads the sorted document
    records instead of running ``run_study``'s per-node check jobs; it
    raises the same message before validation."""
    registry = kwargs.setdefault("registry", SchemaRegistry())
    assert_unique_ids = kwargs.pop("assert_unique_ids", True)
    frames = run_study(
        spark, sources=sources, mappings=mappings, assert_unique_ids=False, **kwargs
    )
    doc = assemble_document(frames, registry)
    if assert_unique_ids:
        _assert_unique_sorted_ids(doc, registry)
    if validate:
        validate_document(doc, registry)
    return doc
