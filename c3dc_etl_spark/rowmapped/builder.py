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
branches into one scan of the source. This module only parses the
sheet: predicates compile through the mapping compiler's
match_predicate, a `{name}` / `{name(args)}` cell through the one macro
registry (``compile_call``, group tag `rule<index>`), and the union +
P6 tail is the harmonize builder's ``union_required``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from c3dc_etl_spark.harmonize.builder import union_required
from c3dc_etl_spark.macros import MacroCall, call_error
from c3dc_etl_spark.mapping.compiler import (
    CompiledField,
    CompilerContext,
    compile_call,
    match_predicate,
    typed_field,
)

SOURCE_NAME_COL = "Source Variable Name"
SOURCE_VALUE_COL = "Source Permissible Values Code"

_CALL_RE = re.compile(r"^\{(?P<name>[a-z_]+)(?:\((?P<args>.*)\))?\}$")
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
    macro cells must name a registered macro (the one registry the build
    compiles them through) with the arguments its builder reads; compound
    value arity must match the source arity."""
    errors: list[str] = []
    prop_names = {p.name for p in registry.node(node).props}
    for r in rules:
        tag = f"rule#{r.index}"
        if not r.outputs:
            errors.append(f"{tag}: no '{node}.' output columns")
        for prop, raw in r.outputs.items():
            if prop not in prop_names:
                errors.append(f"{tag}: unknown output property {node}.{prop}")
            call = _parse_call(raw)
            error = call_error(call[0], len(call[1])) if call else None
            if error:
                errors.append(f"{tag}: {error} in {node}.{prop}")
        if len(r.sources) > 1 and r.values not in ("*",):
            arity = len(r.values.split(";"))
            if arity != len(r.sources):
                errors.append(
                    f"{tag}: value arity {arity} != {len(r.sources)} source fields"
                )
    return errors


def _parse_call(raw: str) -> tuple[str, tuple[str, ...]] | None:
    """A `{name}` or `{name(arg, 'literal', ...)}` cell -> (name, args)."""
    m = _CALL_RE.match(raw.strip())
    if not m:
        return None
    args = _ARG_RE.findall(m.group("args") or "")
    return m.group("name"), tuple(a.strip() for a in args if a.strip())


def _rule_field(rule: RowRule, node: str, prop: str, ctx: CompilerContext) -> CompiledField:
    """One output cell: a macro call or a literal, schema-typed."""
    raw = rule.outputs[prop]
    call = _parse_call(raw)
    if call is None:
        return typed_field(ctx.registry.prop(node, prop), F.lit(raw))
    name, args = call
    return compile_call(name, MacroCall(node, prop, f"rule{rule.index}", args), ctx)


def build_rowmapped_node(
    source: DataFrame,
    node: str,
    rules: list[RowRule],
    ctx: CompilerContext,
) -> DataFrame:
    """M3: one output record per (subject row, matching rule). Compiled
    as a union of per-rule filter+select plans — every branch reads the
    same scan (Catalyst reuses it) and runs entirely in codegen. Columns
    come out in sorted prop order."""
    if not rules:
        raise ValueError("no rules to build")
    branches = []
    for rule in rules:
        fields = [_rule_field(rule, node, prop, ctx) for prop in sorted(rule.outputs)]
        pred = match_predicate(list(rule.sources), rule.values)
        cols = [f.column.alias(f.prop) for f in fields]
        branches.append((source.filter(pred).select(*cols), fields))
    props = sorted({p for r in rules for p in r.outputs})
    return union_required(branches, node, ctx.registry).select(*props)
