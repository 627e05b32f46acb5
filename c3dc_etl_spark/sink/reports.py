"""Report sinks (K3/K4).

- duplicate_report: TARGET's per-participant x node matrix of duplicate
  harmonized records (_create_harmonized_duplicate_record_report_file,
  etl/target/c3dc_etl.py:2229-2304) as ONE groupBy+pivot plan instead of
  the reference's nested dict loops.
- node_count_report: per-node record counts (HarmonizedDataReporter,
  etl/harmonized_data_reporter/harmonized_data_reporter.py:96-125).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from c3dc_etl_spark.session import run_concurrently


def duplicate_report(
    records: DataFrame,
    *,
    participant_col: str,
    node_col: str,
    fingerprint_col: str,
    nodes: Sequence[str],
) -> DataFrame:
    """Participants having >1 record with the same fingerprint in any
    node -> one row per participant with a per-node duplicate count
    matrix. ``nodes`` fixes the pivot columns plan-time (no
    distinct-values job). Two shuffles total: fingerprint agg, then the
    participant pivot agg."""
    dupes = (
        records.groupBy(participant_col, node_col, fingerprint_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    return (
        dupes.groupBy(participant_col)
        .pivot(node_col, list(nodes))
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).cast("bigint"))
        .na.fill(0, list(nodes))
    )


def node_count_report(node_frames: dict[str, DataFrame]) -> list[tuple[str, int]]:
    """K4: (node, record_count) rows for the report CSV, sorted by node;
    driver-side by nature (one scalar per node). The per-node counts
    run concurrently (``session.run_concurrently``)."""
    nodes = sorted(node_frames)
    if not nodes:
        return []
    spark = node_frames[nodes[0]].sparkSession
    counts = run_concurrently(spark, lambda node: node_frames[node].count(), nodes)
    return list(zip(nodes, counts))


def save_report_csv(rows: list[tuple], header: Sequence[str], path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write(",".join(header) + "\n")
        for row in rows:
            f.write(",".join(str(v) for v in row) + "\n")
