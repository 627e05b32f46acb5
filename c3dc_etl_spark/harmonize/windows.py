"""Order-sensitive record selection windows (A1/A2).

The reference implements both as Python scans over per-participant record
lists; here each is ONE window over the participant hash-partitioning —
a single shuffle, linear in input size, no driver involvement.

Reference parity:
- latest_survival:    _get_latest_survival_record etl/ccdi/c3dc_etl.py:1171-1211
- primary_follow_up:  _get_primary_follow_up      etl/mci/c3dc_etl.py:811-870

Order sensitivity (SURVEY §7.4-2): "first Dead in source order" depends on
row order, so callers must supply an explicit ``order_col`` (e.g. the P3
``source_file_row_num`` lineage column) — Spark DataFrames carry no
implicit order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEAD = "Dead"
ALIVE = "Alive"


def latest_survival(
    df: DataFrame,
    *,
    participant_col: str = "participant_id",
    status_col: str = "last_known_survival_status",
    age_col: str = "age_at_last_known_survival_status",
    order_col: str = "source_file_row_num",
    dead_value: str = DEAD,
    drop_inconsistent: bool = True,
) -> DataFrame:
    """A1: per participant keep ONE survival record — the first 'Dead'
    record in source order wins; otherwise the max-age 'Alive' (ties →
    later source record). When any Alive age exceeds the max Dead age the
    participant's records are inconsistent and ALL are dropped
    (reference warns + drops, etl/ccdi/c3dc_etl.py:1199-1207).

    Sort keys are non-null sentinels (coalesce) so the plan is portable
    across engines and deterministic under any partitioning.
    """
    is_dead = F.col(status_col) == dead_value
    age = F.coalesce(F.col(age_col).cast("long"), F.lit(-(1 << 62)))
    w = Window.partitionBy(participant_col).orderBy(
        F.when(is_dead, 0).otherwise(1).asc(),
        # among Dead: earliest source order; among others: ignored
        F.when(is_dead, F.col(order_col)).otherwise(F.lit(0)).asc(),
        # among Alive/other: max age, then later source record
        F.when(is_dead, F.lit(0)).otherwise(age).desc(),
        F.when(is_dead, F.lit(0)).otherwise(F.col(order_col)).desc(),
    )
    ranked = df.withColumn("__rn", F.row_number().over(w))
    if drop_inconsistent:
        # one flag per participant on the same partitioning: the oldest
        # non-Dead age exceeds the oldest Dead age (null when either
        # side is empty, which keeps the participant)
        per_part = Window.partitionBy(participant_col)
        ranked = ranked.withColumn(
            "__bad",
            F.max(F.when(~is_dead, age)).over(per_part)
            > F.max(F.when(is_dead, age)).over(per_part),
        ).filter(~F.coalesce(F.col("__bad"), F.lit(False))).drop("__bad")
    return ranked.filter(F.col("__rn") == 1).drop("__rn")


def primary_follow_up(
    df: DataFrame,
    *,
    participant_col: str = "participant_id",
    status_col: str = "status",
    date_col: str = "begin_date",
    order_col: str = "source_file_row_num",
    dead_value: str = DEAD,
    alive_value: str = ALIVE,
) -> DataFrame:
    """A2: among duplicate follow-up form instances keep ONE — the
    earliest (min date) 'Dead', else the latest 'Alive', else the latest
    of any status (reference etl/mci/c3dc_etl.py:825-863)."""
    is_dead = F.col(status_col) == dead_value
    is_alive = F.col(status_col) == alive_value
    prio = F.when(is_dead, 0).when(is_alive, 1).otherwise(2)
    dt = F.coalesce(F.col(date_col).cast("string"), F.lit(""))
    w = Window.partitionBy(participant_col).orderBy(
        prio.asc(),
        F.when(is_dead, dt).otherwise(F.lit("")).asc(),  # earliest Dead
        F.when(is_dead, F.lit("")).otherwise(dt).desc(),  # latest Alive/any
        F.col(order_col).desc(),
    )
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
