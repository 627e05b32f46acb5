"""Core scalar/array column functions for the harmonization engine.

Everything here is a pure ``pyspark.sql.functions`` expression — no Python
UDFs — so every per-field evaluation the mapping compiler emits stays
inside whole-stage codegen and scales linearly with input size.

Reference parity citations (files under /root/reference):
- case-insensitive trimmed matching: etl/ccdi/c3dc_etl.py:173-216
- '' / None equivalence:            etl/target/c3dc_etl.py:1215-1217
- integer round-not-truncate:       etl/ccdi/c3dc_etl.py:1134-1138
- multi-value ';' discipline:       etl/ccdi/c3dc_etl.py:93,576-601
- enum case restoration:            etl/ccdi/c3dc_etl.py:618-632
- race/ethnicity merge:             etl/target/c3dc_etl.py:551-589
- seeded-uuid replacement:          etl/ccdi/c3dc_etl.py:415-417 (see
  SURVEY.md §7.4-1 for why content-derived UUIDs replace the RNG)
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

MULTIPLE_VALUE_DELIMITER = ";"

# Ethnicity values the reference's {race} macro keeps / races it drops when
# a determinate ethnicity is present (etl/target/c3dc_etl.py:98-99).
ETHNICITY_ALLOWED_VALUES = ("Hispanic or Latino",)
RACE_UNDETERMINED_VALUES = ("Not Reported", "Unknown", "Not Allowed to Collect")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def norm(col: Column | str) -> Column:
    """Match-normalization: trim + casefold (lower). Every source-value
    comparison in the engine goes through this."""
    return F.lower(F.trim(_c(col)))


def nullif_blank(col: Column | str) -> Column:
    """'' and NULL are the same "no value" (trimmed)."""
    return F.nullif(F.trim(_c(col)), F.lit(""))


def blankish(col: Column | str) -> Column:
    """True when the value is missing under the engine's conventions."""
    return nullif_blank(col).isNull()


def missing_required(col: Column | str, prop_type: str) -> Column:
    """True when a required value of schema type ``prop_type`` is
    missing (P6): NULL always; a blank string; an array that is empty or
    holds only NULLs. Never NULL itself, so ``filter(~missing)`` and a
    ``when(missing, ...)`` check agree on every row."""
    c = _c(col)
    if prop_type == "array":
        return c.isNull() | (F.size(F.filter(c, lambda v: v.isNotNull())) == 0)
    if prop_type == "string":
        return blankish(c)
    return c.isNull()


def split_multi(col: Column | str, *, sort: bool = True, distinct: bool = True) -> Column:
    """';'-delimited multi-value cell -> normalized string array."""
    arr = F.transform(
        F.split(_c(col), MULTIPLE_VALUE_DELIMITER), lambda v: F.trim(v)
    )
    arr = F.filter(arr, lambda v: v != "")
    if distinct:
        arr = F.array_distinct(arr)
    if sort:
        arr = F.array_sort(arr)
    return arr


def int_round(col: Column | str) -> Column:
    """Half-up integer conversion (Excel float artifacts: 3660.99999->3661).
    try_cast keeps V21's invalid->null semantics under ANSI sessions."""
    d = _c(col).cast("string").try_cast("double")
    return F.floor(d + F.lit(0.5)).cast("bigint")


def deterministic_uuid(*identity: Column | str, seed: str = "") -> Column:
    """UUIDv4-shaped deterministic id from (seed, identity columns).

    Replaces the reference's sequential seeded random.Random draws —
    order-dependent, unreproducible under parallel execution — with a
    content-derived id that is stable on any cluster at any parallelism.

    Separator is the ASCII unit separator 0x1f (cannot appear in field
    values; NUL would be unrepresentable in DuckDB varchars, which the
    oracle mirror needs)."""
    h = F.md5(F.concat_ws("\x1f", F.lit(seed), *[_c(c).cast("string") for c in identity]))
    return F.concat(
        F.substring(h, 1, 8), F.lit("-"),
        F.substring(h, 9, 4), F.lit("-4"),
        F.substring(h, 14, 3), F.lit("-8"),
        F.substring(h, 18, 3), F.lit("-"),
        F.substring(h, 21, 12),
    )


def enum_case_normalize_expr(col: Column | str, permissible_values: Iterable[str]) -> Column:
    """Restore schema casing: lower(trim(src)) looked up against the PV
    list; no match -> null (V18).

    Compiled as a literal map (constant-folded, broadcast with the plan).
    PV lists in the model are O(10^2-10^3); for a pathological list, swap
    to a broadcast-join pass at the DataFrame level."""
    pvs = list(permissible_values)
    if not pvs:
        return nullif_blank(col)
    m = F.create_map(*[F.lit(x) for pv in pvs for x in (pv.casefold(), pv)])
    return m[norm(col)]


def enum_case_normalize_array(col: Column | str, permissible_values: Iterable[str]) -> Column:
    """V19: multi-value cell -> per-element case restoration, unmatched
    dropped, distinct, sorted."""
    pvs = list(permissible_values)
    m = F.create_map(*[F.lit(x) for pv in pvs for x in (pv.casefold(), pv)])
    matched = F.transform(split_multi(col), lambda v: m[F.lower(v)])
    return F.array_sort(F.array_distinct(F.filter(matched, lambda v: v.isNotNull())))


def race_merge(
    race_col: Column | str,
    ethnicity_col: Column | str,
    permissible_values: Iterable[str],
) -> Column:
    """{race} macro (etl/target/c3dc_etl.py:551-589): merge the ';'-split
    race and ethnicity source cells into one sorted enum array —

    - keep ethnicities in ETHNICITY_ALLOWED_VALUES ('Hispanic or Latino');
    - keep all determinate race values;
    - drop RACE_UNDETERMINED_VALUES when a kept ethnicity is present;
    - case-restore every element against the PV list, drop unmatched.

    Pure array algebra: no UDF, no shuffle."""
    pvs = list(permissible_values)
    m = F.create_map(*[F.lit(x) for pv in pvs for x in (pv.casefold(), pv)])

    def cased(c: Column | str) -> Column:
        vals = F.transform(split_multi(c, sort=False), lambda v: m[F.lower(v)])
        return F.filter(vals, lambda v: v.isNotNull())

    races = cased(race_col)
    eths = F.filter(cased(ethnicity_col), lambda v: v.isin(*ETHNICITY_ALLOWED_VALUES))
    undetermined = F.array(*[F.lit(x) for x in RACE_UNDETERMINED_VALUES])
    races_kept = F.when(F.size(eths) > 0, F.array_except(races, undetermined)).otherwise(races)
    return F.array_sort(F.array_distinct(F.array_union(races_kept, eths)))
