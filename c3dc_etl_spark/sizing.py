"""Volume-based partition sizing — the one derivation behind streaming
state partitions (streaming/sizing.py), iterative-loop reducers
(operators/iterscope.py) and table-log landing files
(sink/tablelog.py): enough partitions that each carries at most a
per-partition byte budget, rounded up to a power of two (keeps modulo
hash distribution even and successive resizes comparable), clamped.
Partition counts derive from DATA VOLUME, never from a core count — the
discipline every call site documents. Broadcast
gates compare a worst-case byte estimate against one driver-memory
budget (``broadcast_budget_bytes``).
"""

from __future__ import annotations

import os
import re

__all__ = [
    "broadcast_budget_bytes",
    "parquet_column_range",
    "parquet_row_count",
    "plan_input_bytes",
    "sized_partitions",
]


def sized_partitions(
    volume_bytes: int,
    per_partition_bytes: int,
    *,
    min_partitions: int = 1,
    max_partitions: int | None = None,
) -> int:
    if volume_bytes < 0:
        raise ValueError(f"volume_bytes must be >= 0, got {volume_bytes}")
    if per_partition_bytes <= 0:
        raise ValueError(
            f"per_partition_bytes must be > 0, got {per_partition_bytes}"
        )
    need = max(1, -(-volume_bytes // per_partition_bytes))
    parts = 1
    while parts < need:
        parts *= 2
    parts = max(parts, min_partitions)
    if max_partitions is not None:
        parts = min(parts, max_partitions)
    return parts


def plan_input_bytes(df) -> int | None:
    """Bytes ``df`` reads: the sum of the optimizer's size estimates of
    its plan's leaf relations (a file scan reports its files' on-disk
    bytes, a local relation its rows times their width). Driver-side,
    no Spark job. ``None`` when a leaf has no estimate: Spark gives an
    RDD-backed relation the ``spark.sql.defaultSizeInBytes``
    placeholder. The leaves are summed rather than the root read
    because a join's root estimate is the PRODUCT of its sides; what
    filters, projections, anti-joins, unions and aggregates produce is
    bounded by their input, while an explode or a cross join can
    produce more."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    unknown = conf.defaultSizeInBytes()
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        size = int(leaves.apply(i).stats().sizeInBytes())
        if size >= unknown:
            return None
        total += size
    return total


_MEM_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}


def _memory_string_bytes(raw: str) -> int:
    """Bytes of a JVM memory setting such as ``4g`` or ``512m``; a bare
    number is MiB, as Spark reads ``spark.driver.memory``."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", raw.strip().lower())
    if m is None:
        raise ValueError(f"not a memory size: {raw!r}")
    return int(m.group(1)) * _MEM_UNITS[m.group(2) or "m"]


def broadcast_budget_bytes(spark) -> int:
    """Bytes that one query's broadcasts may take together: one
    sixteenth of ``spark.driver.memory`` (Spark's 1g default when
    unset). In local mode the driver JVM holds each broadcast about
    three times at its peak — the collected rows, the built hashed
    relation and its serialized blocks — beside the rest of the query's
    working memory, so a gate compares its worst-case raw-byte estimate
    against this small fixed share of the heap rather than against a
    row count tuned on one machine."""
    raw = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    return _memory_string_bytes(raw) // 16


_ROW_COUNT_CACHE: dict[str, int] = {}


def parquet_row_count(path: str) -> int:
    """Exact row count of a parquet file or directory from the FOOTER
    metadata — a driver-side read of a few KB per file, no Spark job
    (ADVICE r10: sizing scopes were paying a full ``df.count()`` job
    per query run just to pick a reducer count). Cached per path for
    the session; testdata is immutable, and a sizing input being one
    commit stale would change only a power-of-two rounding, never a
    result. On a real cluster the same footers are what the scan
    planner already fetches, so this stays metadata-only at any scale.
    """
    cached = _ROW_COUNT_CACHE.get(path)
    if cached is not None:
        return cached
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        total = 0
        for root, _dirs, names in os.walk(path):
            for name in names:
                if name.endswith((".parquet", ".snappy.parquet")):
                    total += pq.ParquetFile(
                        os.path.join(root, name)
                    ).metadata.num_rows
    else:
        total = pq.ParquetFile(path).metadata.num_rows
    _ROW_COUNT_CACHE[path] = total
    return total


_COLUMN_RANGE_CACHE: dict[tuple[str, str], tuple | None] = {}


def parquet_column_range(path: str, column: str) -> tuple | None:
    """(min, max) of ``column`` across every row group of a parquet
    file or directory, from FOOTER statistics only (driver-side, no
    Spark job — the parquet_row_count discipline). Returns ``None``
    when any row group lacks stats for the column, so callers can only
    ever use the range as a PROVEN bound: the degraded path must be
    correct without it. Used to pick between result-identical plan
    shapes (link prediction's packed-key anti-join needs the part keys
    provably in [0, 2^32)); testdata is immutable, so caching per
    (path, column) is safe for the session."""
    key = (path, column)
    if key in _COLUMN_RANGE_CACHE:
        return _COLUMN_RANGE_CACHE[key]
    import pyarrow.parquet as pq

    def file_range(fp: str) -> tuple | None:
        md = pq.ParquetFile(fp).metadata
        idx = md.schema.to_arrow_schema().get_field_index(column)
        if idx < 0:
            return None
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        return None if lo is None else (lo, hi)

    result: tuple | None
    if os.path.isdir(path):
        files = [
            os.path.join(root, name)
            for root, _dirs, names in os.walk(path)
            for name in names
            if name.endswith((".parquet", ".snappy.parquet"))
        ]
        result = None
        for fp in files:
            r = file_range(fp)
            if r is None:
                result = None
                break
            result = (
                r
                if result is None
                else (min(result[0], r[0]), max(result[1], r[1]))
            )
    else:
        result = file_range(path)
    _COLUMN_RANGE_CACHE[key] = result
    return result
