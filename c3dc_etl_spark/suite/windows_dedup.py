"""Window selections, fingerprint dedup, set reconciliation
(SURVEY.md §2.5, §2.7, §2.8).

The reference implements these as O(N)/O(N^2) Python loops; here they are
window functions and hash-partitioned dedups that scale linearly with
partition count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from c3dc_etl_spark.suite.registry import load, query

# Shared canonical-fingerprint expression pieces (D1): normalize a record to
# a canonical string (stable column order, null sentinel) and md5 it. The
# reference deep-copies, blanks volatile ids, recursively sorts and sha1s
# json.dumps (get_cacheable_record, etl/target/c3dc_etl.py:278-329); the
# engine form is md5(concat_ws) over a fixed column order — same semantics
# (volatile fields excluded), engine-portable hash.


@query(
    "survival_latest_window",
    oracle="""
    SELECT user_id, event_id, event_type, value
    FROM (
        SELECT user_id, event_id, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY CASE WHEN event_type = 'error' THEN 0 ELSE 1 END ASC,
                            CASE WHEN event_type = 'error'
                                 THEN EPOCH_US(ts) ELSE 0 END ASC,
                            CASE WHEN event_type = 'error'
                                 THEN 0 ELSE EPOCH_US(ts) END DESC,
                            event_id ASC
               ) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
    tags=("window", "agg"),
)
def survival_latest_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: latest-survival selection — per participant keep one record:
    first 'Dead' in source order wins, else the max-age 'Alive'
    (reference _get_latest_survival_record,
    etl/ccdi/c3dc_etl.py:1171-1211). Mapped onto events: first 'error'
    by ts wins, else latest event. One window shuffle on user_id; sort
    keys are non-null sentinels so Spark/DuckDB null ordering can't
    diverge."""
    events = load(spark, sf_dir, "events")
    # ts_us (epoch micros bigint from load()) keys: pure integer
    # arithmetic, identical under any session timezone in both engines.
    is_err = F.when(F.col("event_type") == "error", 0).otherwise(1)
    w = Window.partitionBy("user_id").orderBy(
        is_err.asc(),
        F.when(F.col("event_type") == "error", F.col("ts_us")).otherwise(F.lit(0)).asc(),
        F.when(F.col("event_type") == "error", F.lit(0)).otherwise(F.col("ts_us")).desc(),
        F.col("event_id").asc(),
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


@query(
    "followup_primary_window",
    oracle="""
    SELECT user_id, event_id, event_type
    FROM (
        SELECT user_id, event_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY CASE WHEN event_type = 'purchase' THEN 0
                                 WHEN event_type = 'click' THEN 1
                                 ELSE 2 END ASC,
                            COALESCE(value, -1e18) DESC,
                            event_id ASC
               ) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
    tags=("window", "agg"),
)
def followup_primary_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: primary follow-up selection among duplicate form instances —
    earliest 'Dead' else latest 'Alive' else latest-any (reference
    _get_primary_follow_up, etl/mci/c3dc_etl.py:811-870). Mapped as a
    3-tier status priority with value/id tiebreaks."""
    events = load(spark, sf_dir, "events")
    prio = (
        F.when(F.col("event_type") == "purchase", 0)
        .when(F.col("event_type") == "click", 1)
        .otherwise(2)
    )
    w = Window.partitionBy("user_id").orderBy(
        prio.asc(),
        F.coalesce(F.col("value"), F.lit(-1e18)).desc(),
        F.col("event_id").asc(),
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


@query(
    "row_numbering_lineage",
    oracle="""
    SELECT c_custkey, c_name,
           ROW_NUMBER() OVER (ORDER BY c_custkey ASC) + 1 AS source_file_row_num
    FROM customer
    """,
    tags=("window",),
)
def row_numbering_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: audit row numbering (petl.addrownumbers(start=2),
    etl/ccdi/c3dc_etl.py:516) — a global key-ordered row number WITHOUT a
    single-partition sort. Two-phase: range-repartition on the key, number
    within each range partition (distributed window), then add cumulative
    partition offsets (a tiny per-partition count aggregate, broadcast
    back). Output numbering is by key order regardless of where range
    boundaries land, so the plan scales to any partition count while the
    result stays byte-identical to ROW_NUMBER() OVER (ORDER BY key).

    The ranged frame is checkpointed: the numbering and offset subtrees
    must observe the SAME range boundaries, and an independent
    recomputation re-samples them (different RDD id -> different
    sampling seed), which mis-aligns offsets with partition contents —
    observed as wrong numbering at sf0.1."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # the checkpoint guarantees BOTH subtrees observe the same sampled
    # range boundaries; its blocks live as long as the returned frame,
    # so no harness can drop them between plan-build and collect.
    ranged = (
        cust.repartitionByRange(32, F.col("c_custkey")).withColumn(
            "__pid", F.spark_partition_id()
        )
    ).localCheckpoint(eager=True)
    w_in = Window.partitionBy("__pid").orderBy(F.col("c_custkey").asc())
    numbered = ranged.withColumn("__rn", F.row_number().over(w_in))
    # cumulative offset of earlier range partitions: num_partitions rows,
    # so the global window over it is trivially cheap
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .withColumn("__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)))
        .select("__pid", "__off")
    )
    return numbered.join(F.broadcast(offsets), "__pid").select(
        "c_custkey",
        "c_name",
        (F.col("__rn") + F.col("__off") + F.lit(1)).cast("bigint").alias("source_file_row_num"),
    )


@query(
    "fingerprint_dedup_first_wins",
    oracle="""
    WITH unioned AS (
        SELECT *, 1 AS transformation_ord
        FROM (SELECT user_id, event_type, COALESCE(CAST(value AS VARCHAR), '<null>') AS value_s
              FROM events WHERE event_id % 3 = 0)
        UNION ALL
        SELECT *, 2 AS transformation_ord
        FROM (SELECT user_id, event_type, COALESCE(CAST(value AS VARCHAR), '<null>') AS value_s
              FROM events WHERE event_id % 3 <> 2)
    ),
    fp AS (
        SELECT *,
               MD5(CAST(user_id AS VARCHAR) || '|' || event_type || '|' || value_s)
                   AS fingerprint
        FROM unioned
    )
    SELECT user_id, event_type, value_s, fingerprint,
           CAST(transformation_ord AS BIGINT) AS won_ord
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY fingerprint
                    ORDER BY transformation_ord ASC, user_id ASC, event_type ASC, value_s ASC
                  ) AS rn
        FROM fp
    )
    WHERE rn = 1
    """,
    tags=("dedup", "window"),
)
def fingerprint_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/D2: the TARGET merge layer — canonical record fingerprint +
    cross-transformation union + first-transformation-wins dedup
    (reference get_cacheable_record/sha1 etl/target/c3dc_etl.py:278-329
    and _create_merged_json_etl_file :2126-2227, an O(N^2) loop there;
    here one window over the fingerprint hash-partitioning). Two
    overlapping event slices stand in for discovery/validation files."""
    events = load(spark, sf_dir, "events")

    def slice_(pred, ord_):
        return (
            events.filter(pred)
            .select(
                "user_id",
                "event_type",
                F.coalesce(F.col("value").cast("string"), F.lit("<null>")).alias("value_s"),
            )
            .withColumn("transformation_ord", F.lit(ord_))
        )

    unioned = slice_(F.col("event_id") % 3 == 0, 1).unionByName(
        slice_(F.col("event_id") % 3 != 2, 2)
    )
    fp = unioned.withColumn(
        "fingerprint",
        F.md5(
            F.concat_ws("|", F.col("user_id").cast("string"), "event_type", "value_s")
        ),
    )
    w = Window.partitionBy("fingerprint").orderBy(
        F.col("transformation_ord").asc(),
        F.col("user_id").asc(),
        F.col("event_type").asc(),
        F.col("value_s").asc(),
    )
    return (
        fp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "value_s",
            "fingerprint",
            F.col("transformation_ord").cast("bigint").alias("won_ord"),
        )
    )


@query(
    "drop_duplicates_pairs",
    oracle="""
    SELECT DISTINCT event_type, user_id
    FROM events
    """,
    tags=("dedup",),
)
def drop_duplicates_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: dropDuplicates over a projected pair set (reference dedupes
    replacement-value pairs while collating,
    mapping_unpivoter/mapping_unpivoter.py:280-295)."""
    events = load(spark, sf_dir, "events")
    return events.select("event_type", "user_id").dropDuplicates()


@query(
    "except_reconciliation",
    oracle="""
    SELECT COALESCE(t.missing_in_b, 0) AS missing_in_b,
           COALESCE(u.missing_in_a, 0) AS missing_in_a
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS missing_in_b FROM (
            SELECT user_id, event_type FROM events WHERE event_id % 2 = 0
            EXCEPT ALL
            SELECT user_id, event_type FROM events
          )) t,
          (SELECT CAST(COUNT(*) AS BIGINT) AS missing_in_a FROM (
            SELECT user_id, event_type FROM events
            EXCEPT ALL
            SELECT user_id, event_type FROM events WHERE event_id % 2 = 0
          )) u
    """,
    tags=("dedup", "validation"),
)
def except_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: merged-vs-unmerged reconciliation — EXCEPT ALL cardinalities in
    both directions (reference _validate_merged_harmonized_data,
    etl/target/c3dc_etl.py:1817-1924 — set-equality checks).

    Computed as ONE lazy job instead of two eager exceptAll().count()
    actions: signed-weight union (+1 for side a, -1 for side b), one
    groupBy on the compared columns, then sum the positive and negative
    remainders — multiset-difference counts in a single shuffle over one
    scan of each side."""
    events = load(spark, sf_dir, "events")
    a = events.filter(F.col("event_id") % 2 == 0).select("user_id", "event_type")
    b = events.select("user_id", "event_type")
    unioned = a.withColumn("__w", F.lit(1)).unionByName(b.withColumn("__w", F.lit(-1)))
    diff = unioned.groupBy("user_id", "event_type").agg(F.sum("__w").alias("__d"))
    return diff.agg(
        F.coalesce(F.sum(F.when(F.col("__d") > 0, F.col("__d"))), F.lit(0))
        .cast("bigint")
        .alias("missing_in_b"),
        F.coalesce(F.sum(F.when(F.col("__d") < 0, -F.col("__d"))), F.lit(0))
        .cast("bigint")
        .alias("missing_in_a"),
    )


@query(
    "distinct_count_per_node",
    oracle="""
    SELECT event_type AS node, CAST(COUNT(*) AS BIGINT) AS record_count,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
    FROM events
    GROUP BY event_type
    """,
    tags=("agg",),
)
def distinct_count_per_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/K4: per-node record counts (harmonized_data_reporter,
    etl/harmonized_data_reporter/harmonized_data_reporter.py:104-107)
    plus a distinct-count the reference computes with dict.fromkeys
    (etl/ccdi/c3dc_etl.py:1373-1378)."""
    events = load(spark, sf_dir, "events")
    return events.groupBy(F.col("event_type").alias("node")).agg(
        F.count(F.lit(1)).alias("record_count"),
        F.countDistinct("user_id").alias("distinct_users"),
    )
