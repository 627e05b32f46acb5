"""Row-mapped rule builder (MCI treatment / treatment_response).

Reference C3dcRowMappedBuilder (etl/mci/c3dc_row_mapped_builder.py):
each mapping ROW is a rule — "if these source fields have these values,
emit one <node> record with these outputs". Predicates support compound
`[f1, f2]` names with per-ordinal value lists and the */+ wildcards
(match logic :195-252); outputs are literals or macro calls —
`{uuid}`, `{sum_abs_first(a, b, 'literal')}` with AST-parsed arguments
(:254-266); record assembly :312-387.

Engine form: the rule sheet is DRIVER-side data (tens to hundreds of
rows), so rules compile PLAN-time into a union of filter+select
projections over the subject frame — no crossJoin, no shuffle at all;
each rule is a narrow codegen pass, and Catalyst merges the union
branches into one scan of the source. Predicate compilation reuses the
mapping compiler's match_predicate; output typing reuses
schema_convert.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from c3dc_etl_spark.functions.columns import (
    blankish,
    deterministic_uuid,
    missing_required,
)
from c3dc_etl_spark.mapping.compiler import (
    CompilerContext,
    match_predicate,
    schema_convert,
)

SOURCE_NAME_COL = "Source Variable Name"
SOURCE_VALUE_COL = "Source Permissible Values Code"

_CALL_RE = re.compile(r"^\{(?P<name>[a-z_]+)\((?P<args>.*)\)\}$")
_MACRO_RE = re.compile(r"^\{(?P<name>[a-z_]+)\}$")
# split args on commas outside quotes
_ARG_RE = re.compile(r"'[^']*'|[^,]+")


@dataclass(frozen=True)
class RowRule:
    index: int
    sources: tuple[str, ...]
    values: str  # raw per-ordinal value spec ('v1;v2', '*', '+')
    outputs: dict[str, str] = field(default_factory=dict)  # prop -> raw value


def _parse_sources(raw: str) -> tuple[str, ...]:
    raw = raw.strip()
    if raw.startswith("[") and raw.endswith("]"):
        return tuple(s.strip() for s in raw[1:-1].split(","))
    return (raw,)


def parse_rule_rows(rows: list[dict], node: str) -> list[RowRule]:
    """S10: header-keyed rule-sheet rows -> RowRule list. Blank rows are
    skipped; duplicate (sources, values, outputs) rows collapse to one
    (reference skips dupes, etl/mci/c3dc_etl.py:788-801)."""
    prefix = f"{node}."
    out: list[RowRule] = []
    seen: set[tuple] = set()
    for i, row in enumerate(rows):
        name = (row.get(SOURCE_NAME_COL) or "").strip()
        if not name:
            continue
        outputs = {
            k[len(prefix):]: str(v)
            for k, v in row.items()
            if k.startswith(prefix) and v is not None and str(v).strip() != ""
        }
        key = (name, str(row.get(SOURCE_VALUE_COL) or "*"), tuple(sorted(outputs.items())))
        if key in seen:
            continue
        seen.add(key)
        out.append(
            RowRule(
                index=i,
                sources=_parse_sources(name),
                values=str(row.get(SOURCE_VALUE_COL) or "*"),
                outputs=outputs,
            )
        )
    return out


def rule_errors(rules: list[RowRule], node: str, registry) -> list[str]:
    """X4 static validation (reference :145-193): every rule needs >= 1
    output property; output properties must exist in the node schema;
    compound value arity must match the source arity."""
    errors: list[str] = []
    prop_names = {p.name for p in registry.node(node).props}
    for r in rules:
        tag = f"rule#{r.index}"
        if not r.outputs:
            errors.append(f"{tag}: no '{node}.' output columns")
        for prop in r.outputs:
            if prop not in prop_names:
                errors.append(f"{tag}: unknown output property {node}.{prop}")
        if len(r.sources) > 1 and r.values not in ("*",):
            arity = len(r.values.split(";"))
            if arity != len(r.sources):
                errors.append(
                    f"{tag}: value arity {arity} != {len(r.sources)} source fields"
                )
    return errors


def _parse_call(raw: str) -> tuple[str, list[str]] | None:
    m = _CALL_RE.match(raw.strip())
    if not m:
        return None
    args = [a.strip() for a in _ARG_RE.findall(m.group("args")) if a.strip()]
    return m.group("name"), args


def _arg_column(arg: str) -> Column:
    """Macro-call argument: 'quoted' -> numeric/string literal, bare ->
    source column (the reference AST-parses the same two shapes)."""
    if arg.startswith("'") and arg.endswith("'"):
        lit = arg[1:-1]
        try:
            return F.lit(float(lit))
        except ValueError:
            return F.lit(lit)
    return F.col(arg).cast("string").try_cast("double")


def _rule_value(
    raw: str, node: str, prop: str, rule: RowRule, ctx: CompilerContext
) -> tuple[Column, bool]:
    """Compile one output cell: {uuid}, {sum_abs_first(...)}, {sum(...)},
    or a literal. Returns (column, already_typed)."""
    macro = _MACRO_RE.match(raw.strip())
    if macro and macro.group("name") == "uuid":
        identity = [F.lit(node), F.lit(f"rule{rule.index}")] + [
            F.col(c) for c in ctx.row_identity
        ]
        return deterministic_uuid(*identity, seed=ctx.uuid_seed), True
    call = _parse_call(raw)
    if call:
        name, args = call
        cols = [_arg_column(a) for a in args]
        if name == "sum_abs_first":
            total = F.abs(cols[0])
        elif name == "sum":
            total = cols[0]
        else:
            raise ValueError(f"unknown row-mapped macro call {name!r}")
        for c in cols[1:]:
            total = total + c
        # blank source addends -> null (V10 discipline); literals never blank
        blanks = [
            blankish(F.col(a))
            for a in args
            if not (a.startswith("'") and a.endswith("'"))
        ]
        if blanks:
            any_blank = blanks[0]
            for b in blanks[1:]:
                any_blank = any_blank | b
            total = F.when(any_blank, F.lit(None).cast("double")).otherwise(total)
        return total, False
    return F.lit(raw), False


def build_rowmapped_node(
    source: DataFrame,
    node: str,
    rules: list[RowRule],
    ctx: CompilerContext,
) -> DataFrame:
    """M3: one output record per (subject row, matching rule). Compiled
    as a union of per-rule filter+select plans — every branch reads the
    same scan (Catalyst reuses it) and runs entirely in codegen."""
    registry = ctx.registry
    props = sorted({p for r in rules for p in r.outputs})
    null_types = {"integer": "bigint", "number": "double", "array": "array<string>"}
    frames: list[DataFrame] = []
    for rule in rules:
        pred = match_predicate(list(rule.sources), rule.values)
        cols: list[Column] = []
        for prop in props:
            if prop in rule.outputs:
                value, typed = _rule_value(rule.outputs[prop], node, prop, rule, ctx)
                if not typed:
                    value = schema_convert(value, registry.prop(node, prop))
            else:
                t = null_types.get(registry.prop(node, prop).type, "string")
                value = F.lit(None).cast(t)
            cols.append(value.alias(prop))
        frames.append(source.filter(pred).select(*cols))
    if not frames:
        raise ValueError("no rules to build")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    # P6 required filter, as in the full-node builder
    for req in registry.required_props(node):
        if req not in out.columns:
            continue
        out = out.filter(~missing_required(req, registry.prop(node, req).type))
    return out
