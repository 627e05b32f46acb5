"""Node builder: source DataFrame + compiled mappings -> harmonized node.

Pipeline per node (reference _transform_record_default,
etl/ccdi/c3dc_etl.py:1048-1169):

1. sub-record explode (M2) on the SOURCE rows — ';'-multi-valued cells of
   scalar enum fields clone the record per distinct sorted value with an
   id suffix (etl/ccdi/c3dc_etl.py:1240-1292);
2. one projected DataFrame per type group (M1), unionByName with
   allowMissingColumns — the fan-out is a plan-time dimension, so
   Catalyst sees a flat union of narrow projections (no shuffle);
3. required-property record filter (P6), the ``union_required`` tail the
   row-mapped builder shares.

Everything is a narrow map over the source partitioning: a node build
never shuffles. At 100 TB the cost profile is the parquet scan itself.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from c3dc_etl_spark.functions.columns import (
    MULTIPLE_VALUE_DELIMITER,
    missing_required,
    split_multi,
)
from c3dc_etl_spark.mapping.compiler import CompiledField, CompilerContext, compile_node_groups
from c3dc_etl_spark.mapping.model import FieldMapping


def sub_record_explode(
    df: DataFrame, fields: list[tuple[str, str]], id_col: str | None
) -> DataFrame:
    """M2: for each (source_col, _) eligible field whose cell contains
    ';', emit one clone per distinct sorted value with `_1.._n` id
    suffixes. Chained posexplodes (a record multi-valued in two eligible
    fields fans out over both, matching the reference's recursive
    sub-record build).

    The split triggers on the DELIMITER being present (reference
    etl/ccdi/c3dc_etl.py:1240-1292), not on distinct-count > 1: a cell
    like 'A;A' collapses to one distinct value but still yields a
    suffixed `_1` sub-record."""
    for src_col, _ in fields:
        parts = split_multi(F.col(src_col))
        multi = F.col(src_col).cast("string").contains(MULTIPLE_VALUE_DELIMITER)
        df = df.withColumn(
            "__parts", F.when(multi, parts).otherwise(F.array(F.col(src_col).cast("string")))
        ).withColumn("__is_multi", multi)
        df = df.select(
            *[c for c in df.columns if c not in (src_col, "__parts", "__is_multi")],
            F.posexplode("__parts").alias("__pos", src_col),
            "__is_multi",
        )
        if id_col:
            df = df.withColumn(
                id_col,
                F.when(
                    F.col("__is_multi"),
                    F.concat(F.col(id_col), F.lit("_"), (F.col("__pos") + 1).cast("string")),
                ).otherwise(F.col(id_col)),
            )
        df = df.drop("__pos", "__is_multi")
    return df


def explode_eligible_fields(
    node: str, mappings: list[FieldMapping], ctx: CompilerContext
) -> list[tuple[str, str]]:
    """Fields eligible for sub-record explode: scalar (non-array)
    string/enum output whose PV list has no ';' in any value, mapped from
    a single source column (etl/ccdi/c3dc_etl.py:298-320)."""
    out: list[tuple[str, str]] = []
    for m in mappings:
        if m.output_node != node or m.is_literal() or m.is_compound():
            continue
        prop = ctx.registry.prop(node, m.output_prop)
        if prop.type == "array":
            continue
        if prop.type == "string" and not any(";" in pv for pv in prop.enum):
            out.append((m.source_columns()[0], m.output_prop))
    return out


def build_node(
    source: DataFrame,
    node: str,
    mappings: list[FieldMapping],
    ctx: CompilerContext,
    *,
    explode_subrecords: bool = True,
    id_source_col: str | None = None,
    extra_columns: dict[str, object] | None = None,
    carry_columns: dict[str, str] | None = None,
) -> DataFrame:
    """Compile + run the full per-node pipeline. ``extra_columns`` adds
    plan-time constants to every record; ``carry_columns`` maps output
    name -> source column carried through the projection per-row (e.g.
    the parent link id, lineage columns)."""
    node_maps = [m for m in mappings if m.output_node == node]
    if not node_maps:
        raise ValueError(f"no mappings target node {node!r}")

    if explode_subrecords:
        eligible = explode_eligible_fields(node, node_maps, ctx)
        seen: set[str] = set()
        uniq = [(s, p) for s, p in eligible if not (s in seen or seen.add(s))]
        if uniq:
            source = sub_record_explode(source, uniq, id_source_col)

    branches = []
    for compiled in compile_node_groups(node, node_maps, ctx).values():
        cols = [cf.column.alias(cf.prop) for cf in compiled]
        if extra_columns:
            cols += [F.lit(v).alias(k) for k, v in extra_columns.items()]
        if carry_columns:
            cols += [
                F.col(src).cast("string").alias(out)
                for out, src in carry_columns.items()
            ]
        branches.append((source.select(*cols), compiled))
    return union_required(branches, node, ctx.registry)


def union_required(
    branches: list[tuple[DataFrame, list[CompiledField]]], node: str, registry
) -> DataFrame:
    """Union the per-type-group (or per-rule) projections by name, each
    with the fields it compiled, and drop records missing any
    schema-required property (P6).

    Props provably non-blank in EVERY branch (e.g. {uuid} ids) need no
    P6 filter: the check is a tautology, and predicate pushdown would
    inline the id's md5 expression into a Filter node where — unlike
    ProjectExec — codegen does no subexpression elimination, so the
    hash would evaluate ~6x per row for nothing. A branch that lacks
    the prop contributes nothing to its set, so union-filled nulls
    (allowMissingColumns) can never be skipped past."""
    df = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), [f for f, _ in branches]
    )
    always_nonblank = set.intersection(
        *[{cf.prop for cf in fields if cf.never_blank} for _, fields in branches]
    )
    for req in registry.required_props(node):
        if req not in df.columns or req in always_nonblank:
            continue
        df = df.filter(~missing_required(req, registry.prop(node, req).type))
    return df
