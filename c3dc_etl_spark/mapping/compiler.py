"""Mapping -> Column compiler.

Each output field becomes ONE Column expression: an ordered
``coalesce(when(match_1, value_1), when(match_2, value_2), ..., default)``
chain. Why coalesce-of-whens instead of when().when(): a {find_enum_value}
arm whose lookup misses must FALL THROUGH to the next arm (reference
etl/target/c3dc_etl.py:1113-1118) — under coalesce, a matched-but-null arm
naturally yields to the next, which implements both first-match-wins (V7)
and lookup fall-through in a single construct, entirely inside
whole-stage codegen.

Macros (V8-V16) are compiled by the one registry in
c3dc_etl_spark.macros, which the row-mapped builder reaches through
``compile_call``; the result is still a Column — lookups become
literal-map getItem calls (constant-folded, shipped with the plan), never
per-row Python.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

from c3dc_etl_spark.functions.columns import (
    blankish,
    enum_case_normalize_array,
    enum_case_normalize_expr,
    int_round,
    norm,
    nullif_blank,
    split_multi,
)
from c3dc_etl_spark.macros import MacroCall, build_macro
from c3dc_etl_spark.mapping.model import (
    WILDCARD_ALWAYS,
    WILDCARD_NONEMPTY,
    FieldMapping,
    Replacement,
)
from c3dc_etl_spark.schema.model import PropDef
from c3dc_etl_spark.schema.registry import SchemaRegistry


@dataclass
class CompilerContext:
    registry: SchemaRegistry
    uuid_seed: str = "0"
    # stable per-source-row identity columns (e.g. source_file_row_num)
    row_identity: tuple[str, ...] = ("source_file_row_num",)
    # MCI-style lookup tables: name -> {key(casefolded): value}
    lookups: dict[str, dict[str, str]] = field(default_factory=dict)


@dataclass
class CompiledField:
    prop: str
    column: Column
    # provably non-blank by construction (e.g. a {uuid} id: a 36-char
    # md5 format over coalesced literals — never null, never ''). Lets
    # union_required skip the P6 required-field filter for this prop:
    # predicate pushdown would otherwise substitute the md5 expression
    # into a Filter node, where (unlike ProjectExec) there is no
    # subexpression elimination, so the hash evaluates ~6x per row for
    # a tautological check (measured 7.8s -> ~1s on engine_sum_macros
    # at sf0.1).
    never_blank: bool = False


def match_predicate(sources: list[str], old_value: str | list[str]) -> Column:
    """is_replacement_match (etl/ccdi/c3dc_etl.py:173-216): '*' always,
    '+' non-blank, else trimmed case-insensitive equality; compound
    old_values match per-ordinal ('v1;v2' against [f1, f2])."""
    if isinstance(old_value, str) and old_value == WILDCARD_ALWAYS:
        return F.lit(True)
    olds: list[str]
    if isinstance(old_value, list):
        olds = [str(o) for o in old_value]
    elif len(sources) > 1:
        olds = old_value.split(";")
    else:
        olds = [old_value]
    preds: list[Column] = []
    for col_name, old in zip(sources, olds):
        src = F.col(col_name)
        if old == WILDCARD_ALWAYS:
            continue
        if old == WILDCARD_NONEMPTY:
            preds.append(~blankish(src))
        else:
            preds.append(F.coalesce(norm(src), F.lit("")) == old.strip().casefold())
    if not preds:
        return F.lit(True)
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def value_expression(
    mapping: FieldMapping, repl: Replacement, ctx: CompilerContext
) -> tuple[Column, bool]:
    """Compile one arm's new_value. Returns (column, is_final)."""
    name = repl.macro()
    if name:
        call = MacroCall(
            mapping.output_node,
            mapping.output_prop,
            mapping.type_group_index,
            tuple(mapping.source_columns()),
            mapping.default_value,
        )
        return build_macro(name, call, ctx)
    if isinstance(repl.new_value, list):
        return F.array(*[F.lit(str(v)) for v in repl.new_value]), True
    nv = repl.new_value
    if isinstance(nv, str) and repl.field_splices():
        # {field:NAME} splicing: template -> concat of literals + columns
        parts: list[Column] = []
        rest = nv
        while "{field:" in rest:
            pre, _, tail = rest.partition("{field:")
            name, _, rest = tail.partition("}")
            if pre:
                parts.append(F.lit(pre))
            parts.append(F.coalesce(F.col(name.strip()).cast("string"), F.lit("")))
        if rest:
            parts.append(F.lit(rest))
        return F.concat(*parts), False
    return F.lit(nv), False


def compile_field(mapping: FieldMapping, ctx: CompilerContext) -> CompiledField:
    """One output field -> one Column."""
    sources = mapping.source_columns()
    prop = ctx.registry.prop(mapping.output_node, mapping.output_prop)

    if mapping.is_literal():
        base: Column | None = F.lit(mapping.literal_value())
    elif len(sources) == 1:
        base = nullif_blank(F.col(sources[0]))
    else:
        base = None  # compound fields only yield values via arms/macros

    arms: list[Column] = []
    any_final = False
    for repl in mapping.replacement_values:
        cond = match_predicate(sources or [], repl.old_value) if sources else F.lit(True)
        value, is_final = value_expression(mapping, repl, ctx)
        any_final = any_final or is_final
        arms.append(F.when(cond, value))

    if arms:
        chain = arms[0] if len(arms) == 1 else F.coalesce(*arms)
        # P5: explicit old_values and no match -> null (field omitted);
        # V6: blank source -> default_value.
        if mapping.default_value is not None and base is not None:
            chain = F.coalesce(chain, F.when(blankish(base), F.lit(mapping.default_value)))
        value = chain
    elif base is not None:
        value = (
            F.coalesce(base, F.lit(mapping.default_value))
            if mapping.default_value is not None
            else base
        )
    else:
        value = F.lit(None)

    repls = mapping.replacement_values
    bare_uuid = (
        len(repls) == 1 and repls[0].macro() == "uuid" and repls[0].old_value == WILDCARD_ALWAYS
    )
    return typed_field(prop, value, any_final, bare_uuid)


def compile_call(name: str, call: MacroCall, ctx: CompilerContext) -> CompiledField:
    """One macro call as a whole field value (a row-mapped rule cell)."""
    value, is_final = build_macro(name, call, ctx)
    return typed_field(ctx.registry.prop(call.node, call.prop), value, is_final, name == "uuid")


def typed_field(
    prop: PropDef, value: Column, is_final: bool = False, bare_uuid: bool = False
) -> CompiledField:
    """``value`` as a schema-typed field. A bare {uuid} value can never
    be blank (md5-hex 8-4-4-4-12 over coalesced non-null parts) — but
    only schema_convert's PLAIN-string path preserves non-blankness. An
    enum-constrained prop nulls values outside its PV list, and an
    integer/number prop's cast nulls the hex string, so the proof (and
    the P6 filter skip it licenses) is gated to plain no-enum strings."""
    never_blank = bare_uuid and prop.type == "string" and not prop.enum
    if not is_final:
        value = schema_convert(value, prop)
    return CompiledField(prop.name, value, never_blank)


def schema_convert(value: Column, prop) -> Column:
    """V17-V20 type conversion + V18/V19 enum discipline: raw value ->
    the schema-typed, enum-case-restored Column."""
    if prop.type == "integer":
        return int_round(value)
    if prop.type == "number":
        return value.cast("string").try_cast("double")
    if prop.type == "array":
        return (
            enum_case_normalize_array(value.cast("string"), prop.enum)
            if prop.enum
            else split_multi(value.cast("string"))
        )
    return (
        enum_case_normalize_expr(value.cast("string"), prop.enum)
        if prop.enum
        else nullif_blank(value.cast("string"))
    )


def type_groups(mappings: list[FieldMapping]) -> list[str]:
    """Numbered groups in numeric order; just ['*'] when none (M1;
    reference _get_type_group_index_mappings etl/ccdi/c3dc_etl.py:946-1006)."""
    nums = sorted({m.type_group_index for m in mappings if m.type_group_index.isdigit()}, key=int)
    return nums or [WILDCARD_ALWAYS]


def compile_node_groups(
    node: str, mappings: list[FieldMapping], ctx: CompilerContext
) -> dict[str, list[CompiledField]]:
    """Per type-group compiled projection for one node. Group semantics:
    '*' base fields are inherited by every numbered group; group '0'
    additionally seeds defaults for later groups (base-record merge,
    etl/ccdi/c3dc_etl.py:1164-1167); a group's own mapping overrides."""
    node_maps = [m for m in mappings if m.output_node == node]
    base = {m.output_prop: m for m in node_maps if m.type_group_index == WILDCARD_ALWAYS}
    zero = {m.output_prop: m for m in node_maps if m.type_group_index == "0"}
    out: dict[str, list[CompiledField]] = {}
    for g in type_groups(node_maps):
        eff = dict(base)
        if g != WILDCARD_ALWAYS:
            if g != "0":
                eff.update(zero)
            eff.update(
                {m.output_prop: m for m in node_maps if m.type_group_index == g}
            )
        out[g] = [compile_field(m, ctx) for m in eff.values()]
    return out
