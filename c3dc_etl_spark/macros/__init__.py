"""Macro registry: the reference's closed macro set (V8-V16), compiled to
Column expressions.

The reference dispatches macros through a hard-coded if/elif chain inside
its per-row evaluator (etl/ccdi/c3dc_etl.py:852-944) and re-implements
{uuid} and {sum_abs_first} in its MCI row-mapped builder
(etl/mci/c3dc_row_mapped_builder.py:254-266). Here each macro is ONE
builder, registered by name, that both node builders reach: the mapping
compiler for a field's "{name}" arm and the row-mapped builder for a
rule's "{name}" / "{name(args)}" cell — the engine's sanctioned
extension point (add a builder, get a new macro everywhere). Every
builder is UDF-free; lookup macros compile the (small, driver-side)
lookup dicts into literal maps the plan broadcasts.

A builder takes one ``MacroCall`` and the compiler context, and returns
(column, is_final): is_final=True means the macro already produced the
schema-typed value (e.g. {race} emits the sorted enum array) and the
compiler must not re-convert it.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce
from typing import TYPE_CHECKING

from pyspark.sql import Column
from pyspark.sql import functions as F

from c3dc_etl_spark.functions.columns import (
    blankish,
    deterministic_uuid,
    norm,
    race_merge,
)

if TYPE_CHECKING:  # only for annotations; avoids a circular import
    from c3dc_etl_spark.mapping.compiler import CompilerContext


@dataclass(frozen=True)
class MacroCall:
    """One macro invocation: the output ``node``.``prop`` it fills; the
    ``group`` tag that keeps {uuid} ids distinct per type group (mapped
    nodes) or per rule ('rule<index>', row-mapped nodes); its ``args`` —
    source column names, or 'quoted' literals; and the ``default`` a
    non-numeric addend takes."""

    node: str
    prop: str
    group: str
    args: tuple[str, ...] = ()
    default: object = None


MacroBuilder = Callable[[MacroCall, "CompilerContext"], tuple[Column, bool]]

MACROS: dict[str, MacroBuilder] = {}
# the fewest ``call.args`` each builder indexes
MACRO_MIN_ARGS: dict[str, int] = {}


def macro(name: str, min_args: int = 0):
    def deco(fn: MacroBuilder) -> MacroBuilder:
        MACROS[name] = fn
        MACRO_MIN_ARGS[name] = min_args
        return fn

    return deco


def call_error(name: str, n_args: int) -> str | None:
    """Static check of one call, before any job runs: the macro is
    registered and gets at least the arguments its builder reads."""
    if name not in MACROS:
        return f"unknown macro {{{name}}}"
    need = MACRO_MIN_ARGS[name]
    if n_args < need:
        return f"macro {{{name}}} needs {need} argument(s), got {n_args}"
    return None


def build_macro(name: str, call: MacroCall, ctx: "CompilerContext") -> tuple[Column, bool]:
    if name not in MACROS:
        raise KeyError(f"unknown macro {{{name}}}")
    return MACROS[name](call, ctx)


def _lookup_map(d: dict[str, str]) -> Column:
    """Casefolded-key lookup dict -> literal map column (constant-folded,
    travels with the plan — the Spark analogue of a broadcast dict)."""
    if not d:
        return F.create_map()
    return F.create_map(*[F.lit(x) for k, v in sorted(d.items()) for x in (k, v)])


# --------------------------------------------------------------------------
# V8 {uuid}
@macro("uuid")
def _uuid(call, ctx):
    """Content-derived UUIDv4-shaped id from (seed, node, group, stable
    row identity) — deterministic at any parallelism (SURVEY §7.4-1
    replaces the reference's sequential seeded RNG,
    etl/ccdi/c3dc_etl.py:415-417)."""
    identity = [F.lit(call.node), F.lit(call.group)] + [F.col(c) for c in ctx.row_identity]
    return deterministic_uuid(*identity, seed=ctx.uuid_seed), False


def _horizontal_sum(abs_first: bool) -> MacroBuilder:
    """V10 {sum} (etl/ccdi/c3dc_etl.py:905-935) and, with abs() of the
    first addend, V11 {sum_abs_first} — ages relative to diagnosis
    (etl/mci/c3dc_etl.py:1733-1766): null if ANY source addend is blank;
    a non-numeric addend (cast -> null while non-blank) takes the
    default. A 'quoted' argument is a literal addend, never blank (the
    reference AST-parses both shapes)."""

    def build(call, ctx):
        addends: list[Column] = []
        blanks: list[Column] = []
        for a in call.args:
            if len(a) >= 2 and a[0] == a[-1] == "'":
                addends.append(F.lit(a[1:-1]).try_cast("double"))
            else:
                addends.append(F.col(a).cast("string").try_cast("double"))
                blanks.append(blankish(F.col(a)))
        if abs_first:
            addends[0] = F.abs(addends[0])
        any_blank = reduce(operator.or_, blanks, F.lit(False))
        value = F.when(any_blank, F.lit(None).cast("double")).otherwise(
            reduce(operator.add, addends)
        )
        if call.default is not None:
            value = F.when(
                ~any_blank & value.isNull(), F.lit(call.default).cast("double")
            ).otherwise(value)
        return value, False

    return build


macro("sum", min_args=1)(_horizontal_sum(abs_first=False))
macro("sum_abs_first", min_args=1)(_horizontal_sum(abs_first=True))


# V12 {race}: merge compound [race, ethnicity] into a sorted enum array
@macro("race", min_args=2)
def _race(call, ctx):
    pvs = ctx.registry.enum_values(call.node, call.prop)
    return race_merge(F.col(call.args[0]), F.col(call.args[1]), pvs), True


# V13 {find_enum_value}: source is a code ('8000/0', 'C71.9'); emit the PV
# whose 'CODE : TERM' prefix matches; miss -> null -> the coalesce chain
# falls through to the next arm (etl/target/c3dc_etl.py:1024-1033,1113-1118)
@macro("find_enum_value", min_args=1)
def _find_enum_value(call, ctx):
    code_map = ctx.registry.enum_code_map(call.node, call.prop)
    return _lookup_map(code_map)[norm(F.col(call.args[0]))], True


# V14 {diagnosis} (MCI): ICD-O code -> term -> diagnosis PV via the
# broadcast icdo lookup (etl/mci/c3dc_etl.py:1540-1561)
@macro("diagnosis", min_args=1)
def _diagnosis(call, ctx):
    code_pv = ctx.registry.enum_code_map(call.node, call.prop)
    pvs = ctx.registry.enum_values(call.node, call.prop)
    term_pv = {
        pv.split(" : ", 1)[1].strip().casefold(): pv for pv in pvs if " : " in pv
    }
    # ICD-O table: code -> preferred term; a code resolves via its term's
    # PV when the code itself has no direct 'CODE : TERM' PV
    derived = {
        code.casefold(): term_pv[term.strip().casefold()]
        for code, term in ctx.lookups.get("icdo", {}).items()
        if term.strip().casefold() in term_pv
    }
    return _lookup_map({**derived, **code_pv})[norm(F.col(call.args[0]))], True


# V15 {diagnosis_category} (MCI): {diagnosis} then diagnosis -> category
@macro("diagnosis_category", min_args=1)
def _diagnosis_category(call, ctx):
    cat = {k.casefold(): v for k, v in ctx.lookups.get("diagnosis_category", {}).items()}
    return _lookup_map(cat)[norm(F.col(call.args[0]))], True


# V16 {laterality} (MCI): first non-empty of N source fields that
# case-matches the enum (etl/mci/c3dc_etl.py:1647-1686); the >1-populated
# assertion is a validate-layer check, not per-row control flow
@macro("laterality", min_args=1)
def _laterality(call, ctx):
    pvs = ctx.registry.enum_values(call.node, call.prop)
    pv_map = _lookup_map({pv.casefold(): pv for pv in pvs})
    candidates = [pv_map[norm(F.col(c))] for c in call.args]
    return F.coalesce(*candidates) if len(candidates) > 1 else candidates[0], True
