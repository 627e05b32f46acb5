"""Mapping "program" model + loader + static validation (X2).

A transformation is a JSON list of per-output-field mapping objects
(reference structure: etl/ccdi/transformations/*.json;
{output_field, source_field, type_group_index, default_value,
replacement_values:[{old_value, new_value}]}). The mapping file IS the
logical plan: the compiler turns it into Column expression trees, so
Catalyst sees one declarative projection per node — constant folding,
pruning, and pushdown all apply.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from c3dc_etl_spark.macros import call_error

WILDCARD_ALWAYS = "*"
WILDCARD_NONEMPTY = "+"

_MACRO_RE = re.compile(r"^\{([a-z_]+)\}$")
_FIELD_SPLICE_RE = re.compile(r"\{field:([^}]+)\}")


@dataclass(frozen=True)
class Replacement:
    """One CASE arm: ordered, first-match-wins, case-insensitive."""

    old_value: str | list[str]  # list for compound-field ordinal matching
    new_value: object  # str, list[str], number, or a "{macro}" string

    def macro(self) -> str | None:
        """The macro name of a whole-value "{name}" (a "{field:NAME}"
        splice is not a macro)."""
        m = _MACRO_RE.match(self.new_value) if isinstance(self.new_value, str) else None
        return m.group(1) if m else None

    def field_splices(self) -> list[str]:
        if isinstance(self.new_value, str):
            return _FIELD_SPLICE_RE.findall(self.new_value)
        return []


@dataclass(frozen=True)
class FieldMapping:
    output_node: str
    output_prop: str
    source_field: str  # 'col', 'sheet.col', '[f1, f2]' compound, '[literal]'
    type_group_index: str = WILDCARD_ALWAYS
    default_value: object = None
    replacement_values: tuple[Replacement, ...] = field(default_factory=tuple)

    # -- source_field parsing ---------------------------------------------
    def is_compound(self) -> bool:
        s = self.source_field.strip()
        return s.startswith("[") and s.endswith("]") and "," in s

    def is_literal(self) -> bool:
        s = self.source_field.strip()
        return s.startswith("[") and s.endswith("]") and "," not in s

    def source_columns(self) -> list[str]:
        """Unqualified source column name(s); the 'sheet.' prefix routes
        tab selection (S4) and is stripped for projection (P4)."""
        s = self.source_field.strip()
        if self.is_literal():
            return []
        if self.is_compound():
            return [c.strip().split(".")[-1] for c in s[1:-1].split(",")]
        return [s.split(".")[-1]]

    def literal_value(self) -> str:
        return self.source_field.strip()[1:-1]

    def source_sheet(self) -> str | None:
        s = self.source_field.strip()
        if not s.startswith("[") and "." in s:
            return s.split(".", 1)[0]
        return None


def load_mappings(doc: list[dict] | str) -> list[FieldMapping]:
    """Parse a transformation JSON (list of mapping dicts, or a path)."""
    if isinstance(doc, str):
        with open(doc, encoding="utf-8") as f:
            doc = json.load(f)
    if isinstance(doc, dict):
        doc = doc.get("mappings", [])
    out: list[FieldMapping] = []
    for m in doc:
        node, prop = m["output_field"].split(".", 1)
        out.append(
            FieldMapping(
                output_node=node,
                output_prop=prop,
                source_field=str(m.get("source_field", "")),
                type_group_index=str(m.get("type_group_index", WILDCARD_ALWAYS)),
                default_value=m.get("default_value"),
                replacement_values=tuple(
                    Replacement(r.get("old_value", WILDCARD_ALWAYS), r.get("new_value"))
                    for r in m.get("replacement_values", ())
                ),
            )
        )
    return out


def mapping_errors(
    mappings: list[FieldMapping],
    *,
    schema_props: dict[str, set[str]],
    source_columns: set[str] | None = None,
) -> list[str]:
    """Static validation before any job launches (X2; reference
    _get_transformation_mapping_errors etl/ccdi/c3dc_etl.py:678-762):
    output fields exist in the schema, source fields exist in the source
    header, macros are in the macro registry and get the source columns
    their builder reads, compound old/new arity matches."""
    errors: list[str] = []
    for m in mappings:
        qual = f"{m.output_node}.{m.output_prop}"
        if m.output_node not in schema_props:
            errors.append(f"{qual}: unknown output node")
            continue
        if m.output_prop not in schema_props[m.output_node]:
            errors.append(f"{qual}: unknown output property")
        if source_columns is not None and not m.is_literal():
            for col in m.source_columns():
                if col not in source_columns:
                    errors.append(f"{qual}: source column '{col}' not in source header")
        n_src = len(m.source_columns())
        for r in m.replacement_values:
            macro = r.macro()
            error = call_error(macro, n_src) if macro else None
            if error:
                errors.append(f"{qual}: {error}")
            if isinstance(r.old_value, str) and ";" in r.old_value and m.is_compound():
                if len(r.old_value.split(";")) != n_src:
                    errors.append(
                        f"{qual}: compound old_value arity {r.old_value!r} != {n_src} source fields"
                    )
        if not m.type_group_index == WILDCARD_ALWAYS and not m.type_group_index.isdigit():
            errors.append(f"{qual}: bad type_group_index {m.type_group_index!r}")
    return errors
