"""Transactional-table-log queries: snapshot-isolated reads and time
travel over the versioned commit log (``sink/tablelog.py``) — the
"Parquet/Delta writes" leg of the engine's sink surface.

Each query BUILDS a logged table from the ``orders`` parquet through the
real transaction path (append commits, a compaction commit that
logically removes the original files, a retention-aware vacuum) and then
reads a snapshot back; the oracle restates the snapshot's expected
content directly against ``orders``. That makes the whole protocol —
manifest replay, immutable-file isolation, CAS commit, retention — the
thing under value-hash test, not just the final parquet scan.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c3dc_etl_spark.sink.tablelog import TableLog
from c3dc_etl_spark.suite.registry import load, query

_COLS = ("o_orderkey", "o_totalprice", "o_orderstatus")

_SCRATCH_DIRS: list[str] = []


def _scratch(prefix: str) -> str:
    """A per-invocation scratch table dir, swept at process exit — the
    returned DataFrames read these files LAZILY (the driver collects
    after the query returns), so cleanup must outlive the query call."""
    d = tempfile.mkdtemp(prefix=prefix)
    if not _SCRATCH_DIRS:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _SCRATCH_DIRS]
        )
    _SCRATCH_DIRS.append(d)
    return d


def _build_logged_orders(spark: SparkSession, sf_dir: str) -> TableLog:
    """v0: append 'F' orders; v1: append 'O'; v2: compact (rewrites both
    appends into one file, logically removing theirs); v3: append 'P'.
    Every version stays readable: the compacted-away files are retained
    on disk until vacuum drops unreferenced ones."""
    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(_scratch("tablelog_"))
    log.append(orders.filter(F.col("o_orderstatus") == "F"))
    log.append(orders.filter(F.col("o_orderstatus") == "O"))
    log.compact(spark, target_partitions=1)
    log.append(orders.filter(F.col("o_orderstatus") == "P"))
    return log


@query(
    "table_log_snapshot_read",
    oracle=f"""
    SELECT {', '.join(_COLS)} FROM orders
    WHERE o_orderstatus IN ('F', 'O', 'P')
    """,
    tags=("sink", "tablelog"),
)
def table_log_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-snapshot read across a commit history that includes a
    compaction: the manifest replay must resolve {compacted file,
    post-compaction append} — not the removed originals, not a double
    count. Vacuum runs FIRST with a retention window covering the
    snapshot, proving the read plan's file list survives file-level
    garbage collection of everything older."""
    log = _build_logged_orders(spark, sf_dir)
    # grace 0: single-process pipeline, no concurrent writer can exist
    log.vacuum(keep_versions=2, grace_seconds=0)  # retains v2 (compact) + v3
    return log.read(spark)


@query(
    "table_log_time_travel",
    oracle=f"""
    SELECT {', '.join(_COLS)} FROM orders
    WHERE o_orderstatus IN ('F', 'O')
    """,
    tags=("sink", "tablelog"),
)
def table_log_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read of version 1 — BEFORE the compaction rewrote its
    files and before the later append — after the table has moved two
    commits ahead and a vacuum (retention spanning v1) has run: the
    bit-identical historical snapshot every table format owes its
    readers."""
    log = _build_logged_orders(spark, sf_dir)
    log.vacuum(keep_versions=3, grace_seconds=0)  # retains v1's file set
    return log.read(spark, version=1)


@query(
    "table_log_merge_upsert",
    oracle=f"""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders
    """,
    tags=("sink", "tablelog"),
)
def table_log_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE through the table log: a CDC batch bumps
    ``o_totalprice`` for the keys divisible by 97, and the merge
    rewrites ONLY the files whose manifest stats envelope contains a
    changed key (range-partitioned landing keeps envelopes tight, so
    untouched files survive by name — asserted in tests/test_tablelog).
    The read-back must show exactly the updated values merged into the
    untouched remainder; the +1000.0 is one IEEE double addition,
    bit-identical cross-engine."""
    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(
        _scratch("tablelog_merge_"), stats_col="o_orderkey"
    )
    log.append(orders)
    updates = orders.filter(F.col("o_orderkey") % 97 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
    )
    log.merge_upsert(spark, updates, "o_orderkey")
    return log.read(spark)


@query(
    "table_log_pruned_read",
    oracle=f"""
    SELECT {', '.join(_COLS)} FROM orders
    WHERE o_orderkey BETWEEN 100 AND 500
    """,
    tags=("sink", "tablelog"),
)
def table_log_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-pruned range read: the manifest's per-file [min, max]
    envelopes skip every file outside the key range BEFORE any parquet
    footer is opened (manifest-level file skipping, the complement of
    row-group pruning — file-count gap asserted in tests/test_tablelog),
    then the residual BETWEEN filters inside the survivors."""
    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(
        _scratch("tablelog_prune_"), stats_col="o_orderkey"
    )
    log.append(orders)
    return log.read(spark, key_between=(100, 500))


ZBOX = (40, 80, 40, 80)  # 8-bit bucket box: x in [40,80], y in [40,80]


@query(
    "table_log_optimize_zorder",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
    FROM lineitem
    WHERE l_partkey BETWEEN 20 AND 60 AND l_suppkey BETWEEN 2 AND 6
    """,
    tags=("sink", "tablelog", "layout"),
)
def table_log_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY through the table log: the lineitem projection
    is appended row-ordered, rewritten Z-clustered on (l_partkey,
    l_suppkey) as a single transactional commit, and a 2-D box read of
    the post-optimize snapshot must return content identical to the
    source — the rewrite is layout-only. The measured point of the
    layout (the box touches FEWER files' min/max envelopes than under
    the pre-optimize layout, and the pre-optimize version stays
    time-travel readable) is asserted in tests/test_tablelog; here the
    value hash pins content preservation through the rewrite."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    log = TableLog(_scratch("tablelog_zorder_"))
    log.append(li)
    log.optimize_zorder(spark, "l_partkey", "l_suppkey")
    return log.read(spark).filter(
        F.col("l_partkey").between(20, 60) & F.col("l_suppkey").between(2, 6)
    )


@query(
    "table_log_delete_where",
    oracle=f"""
    SELECT {', '.join(_COLS)} FROM orders
    WHERE o_orderkey NOT BETWEEN 100 AND 500
    """,
    tags=("sink", "tablelog"),
)
def table_log_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE WHERE through the table log: rows with
    o_orderkey in [100, 500] are deleted by rewriting ONLY the files
    whose manifest stats envelope intersects the range (disjoint files
    survive by name — asserted in tests/test_tablelog, along with the
    pre-delete snapshot staying time-travel readable and concurrent
    overlapping appends raising CommitConflict). The read-back must be
    exactly the source minus the deleted range."""
    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(_scratch("tablelog_delete_"), stats_col="o_orderkey")
    log.append(orders)
    log.delete_where(spark, (100, 500))
    return log.read(spark)


@query(
    "table_log_change_feed",
    oracle=f"""
    SELECT {', '.join(_COLS)} FROM orders
    WHERE o_orderstatus IN ('O', 'P')
    """,
    tags=("sink", "tablelog"),
)
def table_log_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental change-feed read: three append commits land the 'F',
    'O', 'P' order slices; a downstream consumer that has processed
    through version 0 reads exactly the rows added by versions 1-2 —
    never re-scanning the table. (Rewriting commits inside the range
    make the feed refuse loudly instead of double-counting — asserted
    in tests/test_tablelog.)"""
    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(_scratch("tablelog_cdf_"))
    log.append(orders.filter(F.col("o_orderstatus") == "F"))   # v0
    log.append(orders.filter(F.col("o_orderstatus") == "O"))   # v1
    log.append(orders.filter(F.col("o_orderstatus") == "P"))   # v2
    return log.read_changes(spark, since_version=0)


@query(
    "table_log_zorder_pruned_read",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
    FROM lineitem
    WHERE l_partkey BETWEEN 20 AND 60 AND l_suppkey BETWEEN 2 AND 6
    """,
    tags=("sink", "tablelog", "layout"),
)
def table_log_zorder_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level 2-D file skipping: the table carries [min, max]
    envelopes for BOTH (l_partkey, l_suppkey) in its commit manifests
    (extra_stats_cols), the OPTIMIZE ZORDER rewrite clusters files into
    compact Z-ranges bounding both dimensions, and the box read prunes
    files from the MANIFEST — before any parquet footer opens — then
    applies the residual filters (file-count gap asserted in
    tests/test_tablelog). Content must equal the source box exactly."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    log = TableLog(
        _scratch("tablelog_zprune_"),
        stats_col="l_orderkey",
        extra_stats_cols=["l_partkey", "l_suppkey"],
    )
    log.append(li)
    log.optimize_zorder(spark, "l_partkey", "l_suppkey")
    return log.read(
        spark, col_between={"l_partkey": (20, 60), "l_suppkey": (2, 6)}
    )


BLOOM_LOOKUP_KEY = 7


@query(
    "table_log_bloom_lookup",
    oracle=f"""
SELECT o_orderkey, o_totalprice, o_orderstatus
FROM orders WHERE o_orderkey = {BLOOM_LOOKUP_KEY}
""",
    tags=("tablelog",),
)
def table_log_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-skipped point lookup through the table log: per-file Bloom
    bitsets ride the commit manifest (built exactly over each landed
    file's keys — no false negatives), so an equality probe opens only
    the files whose bitset passes all k probe bits, with the residual
    filter absorbing false positives. The build goes through the REAL
    transaction path (two appends + a compaction that rebuilds blooms
    for the rewritten files); the oracle restates the lookup against
    the raw table, so the hash compare pins bitset build, manifest
    round-trip, k-probe agreement, and residual semantics at once
    (sink/tablelog.py:_attach_blooms)."""
    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(
        _scratch("tablelog_bloom_"),
        bloom_col="o_orderkey",
        bloom_bits=4096,
    )
    log.append(orders.filter(F.col("o_orderkey") % 2 == 0))
    log.append(orders.filter(F.col("o_orderkey") % 2 == 1))
    log.compact(spark, target_partitions=4)
    return log.read(spark, key_eq=BLOOM_LOOKUP_KEY)


REPLACE_LO, REPLACE_HI = 10, 40


@query(
    "table_log_replace_where",
    oracle=f"""
SELECT o_orderkey,
       CAST(o_totalprice
            + CASE WHEN o_orderkey BETWEEN {REPLACE_LO} AND {REPLACE_HI}
                   THEN 1000 ELSE 0 END AS DOUBLE) AS o_totalprice,
       o_orderstatus
FROM orders
""",
    tags=("tablelog",),
)
def table_log_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic partition overwrite (Delta replaceWhere / INSERT
    OVERWRITE PARTITION): one commit drops the stored key range and
    lands the recomputed rows — the idempotent-backfill primitive
    (re-running a day replaces that day wholesale, with no
    delete-then-append window where readers see neither version, and
    carried merge-grade OCC against racers appending into the range).
    The build replaces [{REPLACE_LO}, {REPLACE_HI}] with price-adjusted
    rows through the real transaction path; the oracle restates the
    post-replace table against raw orders, so hash parity pins the
    range swap, out-of-range carry-over from rewritten files, and
    commit atomicity (sink/tablelog.py:replace_where)."""
    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(_scratch("tablelog_replace_"), stats_col="o_orderkey")
    log.append(orders)
    patch = orders.filter(
        F.col("o_orderkey").between(REPLACE_LO, REPLACE_HI)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
    log.replace_where(spark, patch, (REPLACE_LO, REPLACE_HI))
    return log.read(spark)


@query(
    "table_log_constraint_enforce",
    oracle=f"""
    SELECT {', '.join(_COLS)} FROM orders
    WHERE o_orderstatus IN ('F', 'O')
    """,
    tags=("sink", "tablelog"),
)
def table_log_constraint_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time CHECK constraint enforcement (Delta ADD CONSTRAINT):
    the constraints are persisted as data-free ledger commits on the
    SAME log as the data, a clean append passes, a batch carrying
    negative prices AND a NULL key is refused in ONE validation job
    BEFORE any file lands (both violated constraints named in the
    error), and a second clean append proceeds. The read-back must be
    exactly the two accepted batches — the rejected write left the
    table byte-identical, not even orphan files."""
    from c3dc_etl_spark.sink.tablelog import ConstraintViolation

    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(_scratch("tablelog_check_"), stats_col="o_orderkey")
    log.set_check_constraint("price_positive", "o_totalprice > 0")
    log.set_check_constraint("key_not_null", "o_orderkey IS NOT NULL")
    log.append(orders.filter(F.col("o_orderstatus") == "F"))
    bad = (
        orders.filter(F.col("o_orderstatus") == "O")
        .withColumn("o_totalprice", -F.col("o_totalprice"))
        .unionByName(
            orders.limit(1).select(
                F.lit(None).cast("bigint").alias("o_orderkey"),
                F.lit(1.0).alias("o_totalprice"),
                F.lit("O").alias("o_orderstatus"),
            )
        )
    )
    try:
        log.append(bad)
        raise AssertionError("constraint-violating append was accepted")
    except ConstraintViolation:
        pass
    log.append(orders.filter(F.col("o_orderstatus") == "O"))
    return log.read(spark)


@query(
    "table_log_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("sink", "tablelog"),
)
def table_log_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution through the table log: a later append
    carries a NEW column (o_orderpriority), history is never rewritten,
    and a merge-schema snapshot read unions the per-file schemas so
    pre-evolution files surface the added column as NULL — every table
    format's add-column story, here via parquet mergeSchema over the
    snapshot's exact file list (sink/tablelog.py:read)."""
    orders = load(spark, sf_dir, "orders")
    log = TableLog(_scratch("tablelog_evolve_"))
    log.append(
        orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_totalprice"
        )
    )
    log.append(
        orders.filter(F.col("o_orderstatus") == "O").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
    )
    return log.read(spark, merge_schema=True)


@query(
    "table_log_history_audit",
    oracle="""
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS op,
           (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F') AS rows_added
    UNION ALL SELECT 1, 'append',
           (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'O')
    UNION ALL SELECT 2, 'set_constraint', NULL
    UNION ALL SELECT 3, 'compact',
           (SELECT COUNT(*) FROM orders WHERE o_orderstatus IN ('F', 'O'))
    UNION ALL SELECT 4, 'append',
           (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'P')
    """,
    tags=("sink", "tablelog"),
)
def table_log_history_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY over the commit log: one audit row per commit
    (version, operation, rows added from the per-file manifest stats —
    NULL for data-free metadata commits), replayed purely from the
    manifests with no Spark job over the data. The oracle restates
    every expected row count against raw orders, so hash parity pins
    the manifest stats themselves (sink/tablelog.py:history)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(_scratch("tablelog_hist_"), stats_col="o_orderkey")
    log.append(orders.filter(F.col("o_orderstatus") == "F"))   # v0
    log.append(orders.filter(F.col("o_orderstatus") == "O"))   # v1
    log.set_check_constraint("price_positive", "o_totalprice > 0")  # v2
    log.compact(spark, target_partitions=2)                    # v3
    log.append(orders.filter(F.col("o_orderstatus") == "P"))   # v4
    recs = [
        (h["version"], h["op"], h["rows_added"]) for h in log.history()
    ]
    schema = StructType(
        [
            StructField("version", LongType()),
            StructField("op", StringType()),
            StructField("rows_added", LongType()),
        ]
    )
    return spark.createDataFrame(recs, schema)


@query(
    "table_log_merge_cdc_deletes",
    oracle=f"""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders
    WHERE NOT (o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0)
    """,
    tags=("sink", "tablelog"),
)
def table_log_merge_cdc_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC MERGE through the table log — upserts AND deletes in
    ONE copy-on-write commit (the WHEN MATCHED DELETE arm, also the
    GDPR key-list-erasure path): keys divisible by 97 get a price bump,
    keys divisible by 89 (and not 97 — a key with both ops in one batch
    is rejected as ambiguous, Delta's multiple-match error) are deleted, and only files whose stats
    envelope intersects the batch keys rewrite. The read-back must show
    updates applied, deleted keys gone, and every untouched row carried
    — one atomic commit, no delete-then-upsert visibility window
    (sink/tablelog.py:merge_apply_cdc)."""
    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(_scratch("tablelog_cdcmerge_"), stats_col="o_orderkey")
    log.append(orders)
    ups = (
        orders.filter(F.col("o_orderkey") % 97 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .withColumn("op", F.lit("U"))
    )
    dels = (
        orders.filter(
            (F.col("o_orderkey") % 89 == 0) & (F.col("o_orderkey") % 97 != 0)
        )
        .withColumn("op", F.lit("D"))
    )
    log.merge_apply_cdc(spark, ups.unionByName(dels), "o_orderkey")
    return log.read(spark)


# ---- round-10 growth tier (r9 verdict item 7): maintenance ops ---------

@query(
    "table_log_optimize_compaction",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_total,
           CAST(4 AS BIGINT) AS files_before,
           CAST(1 AS BIGINT) AS files_after,
           CAST(5 AS BIGINT) AS commits
    FROM orders
    """,
    tags=("sink", "tablelog", "maintenance"),
)
def table_log_optimize_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE (bin-packing compaction) WITH ITS METRICS — Delta's
    ``OPTIMIZE`` returns numFilesAdded/numFilesRemoved; this returns
    the equivalent audit row sourced from the manifest history, joined
    with the row count read back THROUGH the compacted snapshot. Four
    single-file appends (the small-file problem a streaming ingest
    creates) compact into one file in one transactional commit; row
    count must be invariant and the file metrics exact. File counts
    come from the manifest replay (driver-side, O(commits)), the row
    count from the real compacted read."""
    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(_scratch("tablelog_opt_"))
    for bucket in range(4):
        log.append(
            orders.filter(F.col("o_orderkey") % 4 == bucket).coalesce(1)
        )
    files_before = len(log.files())
    log.compact(spark, target_partitions=1)
    files_after = len(log.files())
    commits = len(log.versions())
    return (
        log.read(spark)
        .agg(F.count("*").cast("bigint").alias("rows_total"))
        .withColumn("files_before", F.lit(files_before).cast("bigint"))
        .withColumn("files_after", F.lit(files_after).cast("bigint"))
        .withColumn("commits", F.lit(commits).cast("bigint"))
    )


@query(
    "table_log_restore_version",
    oracle=f"""
    SELECT {', '.join(_COLS)}, CAST(3 AS BIGINT) AS head_version
    FROM orders
    WHERE o_orderstatus IN ('F', 'O')
    """,
    tags=("sink", "tablelog", "maintenance"),
)
def table_log_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE to an earlier version as a NEW commit (Delta
    RESTORE): v0 appends 'F' orders, v1 appends 'O', v2 copy-on-write
    DELETEs a key range — then restore(1) moves the HEAD to v3 with
    v1's exact file set re-added (no data rewritten; immutable files
    are re-referenced with their original stats). The latest-snapshot
    read must show the deleted rows back, and the head version column
    pins that restore is a forward commit, not a time-travel read."""
    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(_scratch("tablelog_restore_"), stats_col="o_orderkey")
    log.append(orders.filter(F.col("o_orderstatus") == "F"))
    log.append(orders.filter(F.col("o_orderstatus") == "O"))
    log.delete_where(spark, (0, 1_000_000_000))  # empties the table
    log.restore(1)
    return log.read(spark).withColumn(
        "head_version", F.lit(log.latest_version()).cast("bigint")
    )


@query(
    "table_log_vacuum_reclaim",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_total,
           CAST(3 AS BIGINT) AS files_reclaimed,
           CAST(1 AS BIGINT) AS live_files
    FROM orders
    """,
    tags=("sink", "tablelog", "maintenance"),
)
def table_log_vacuum_reclaim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM with its reclamation metrics: three single-file appends
    compact into one; a retention-1 vacuum must physically reclaim
    exactly the three compacted-away data files (returned by name),
    leave the one live file, and the head snapshot must read back
    complete through it — file-level GC cannot touch referenced data.
    Grace 0 is safe here: single-process build, no concurrent
    writer."""
    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(_scratch("tablelog_vac_"))
    for status in ("F", "O", "P"):
        log.append(
            orders.filter(F.col("o_orderstatus") == status).coalesce(1)
        )
    log.compact(spark, target_partitions=1)
    reclaimed = [
        n for n in log.vacuum(keep_versions=1, grace_seconds=0)
        if n.endswith(".parquet")
    ]
    live = len(log.files())
    return (
        log.read(spark)
        .agg(F.count("*").cast("bigint").alias("rows_total"))
        .withColumn("files_reclaimed", F.lit(len(reclaimed)).cast("bigint"))
        .withColumn("live_files", F.lit(live).cast("bigint"))
    )


@query(
    "table_log_clone_shallow",
    oracle=f"""
    SELECT {', '.join(_COLS)},
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderstatus IN ('F', 'O')) AS BIGINT)
               AS source_rows
    FROM orders
    WHERE o_orderstatus IN ('F', 'O', 'P')
    """,
    tags=("sink", "tablelog", "maintenance"),
)
def table_log_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE: a zero-copy fork of the source snapshot (hard
    links to the immutable data files, no bytes copied), then an
    append to the CLONE — the dev/test-against-production pattern every
    table format ships. The clone read must show source + its own
    append; the source_rows column pins that the source stayed
    untouched by the clone's write (independent logs, immutable
    files)."""
    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(_scratch("tablelog_clsrc_"))
    log.append(orders.filter(F.col("o_orderstatus") == "F"))
    log.append(orders.filter(F.col("o_orderstatus") == "O"))
    clone = log.clone_shallow(_scratch("tablelog_clone_"))
    clone.append(orders.filter(F.col("o_orderstatus") == "P"))
    source_rows = log.read(spark).count()  # bounded scalar, post-write
    return clone.read(spark).withColumn(
        "source_rows", F.lit(source_rows).cast("bigint")
    )


# ---- round-11 growth tier (r10 verdict item 5b): deletion vectors ------

@query(
    "table_log_deletion_vectors",
    oracle=f"""
    SELECT {', '.join(_COLS)},
           CAST(1 AS BIGINT) AS files_stable,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS rows_pre_delete
    FROM orders
    WHERE NOT (o_orderkey % 7 = 0 OR o_totalprice < 50000.0)
    """,
    tags=("sink", "tablelog", "maintenance"),
)
def table_log_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors (Delta DV protocol,
    the 100 TB GDPR shape the copy-on-write ``delete_where`` cannot
    serve cheaply): two DV deletes — a key-modulo predicate and a
    NON-key predicate no stats envelope could prune — mark row
    positions in sidecar bitmaps and rewrite NOTHING (``files_stable``
    pins that the live data-file set is bit-identical through both
    deletes); the read subtracts the vectors at scan time, and time
    travel to the pre-delete version still sees every row
    (``rows_pre_delete``). The second vector is cumulative over the
    first (sink/tablelog.py: delete_where_dv / dv_map / _scan_files;
    purge/compact materialization and vacuum interplay are unit-pinned
    in tests/test_tablelog.py)."""
    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(_scratch("tablelog_dv_"), stats_col="o_orderkey")
    log.append(orders.filter(F.col("o_orderstatus") == "F"))
    log.append(orders.filter(F.col("o_orderstatus") != "F"))
    pre_version = log.latest_version()
    files_before = log.files()
    log.delete_where_dv(spark, "o_orderkey % 7 = 0")
    log.delete_where_dv(spark, "o_totalprice < 50000.0")
    files_stable = int(log.files() == files_before)
    rows_pre = log.read(spark, version=pre_version).count()  # time travel
    return (
        log.read(spark)
        .withColumn("files_stable", F.lit(files_stable).cast("bigint"))
        .withColumn("rows_pre_delete", F.lit(rows_pre).cast("bigint"))
    )


# ---- round-12 growth tier (VERDICT r11 ask #6): DV UPDATE + row CDF ----

@query(
    "table_log_update_dv",
    oracle=f"""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 500.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus,
           CAST(1 AS BIGINT) AS originals_stable
    FROM orders
    """,
    tags=("sink", "tablelog", "maintenance"),
)
def table_log_update_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE via deletion vectors (the other half of
    Delta's DV protocol): one atomic commit marks the matching rows'
    positions in sidecar vectors AND appends their updated versions —
    no touched data file is rewritten (``originals_stable`` pins that
    every pre-update data file survives by name), readers see the
    update atomically, and the +500.0 is one IEEE double addition,
    bit-identical cross-engine (sink/tablelog.py: update_where_dv;
    OCC, constraint enforcement and the dv smallness guard are
    unit-pinned in tests/test_tablelog.py)."""
    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(_scratch("tablelog_udv_"), stats_col="o_orderkey")
    log.append(orders.filter(F.col("o_orderstatus") == "F"))
    log.append(orders.filter(F.col("o_orderstatus") != "F"))
    files_before = set(log.files())
    log.update_where_dv(
        spark,
        "o_orderkey % 13 = 0",
        {"o_totalprice": "o_totalprice + 500.0"},
    )
    stable = int(files_before <= set(log.files()))
    return log.read(spark).withColumn(
        "originals_stable", F.lit(stable).cast("bigint")
    )


@query(
    "table_log_dv_change_feed",
    oracle=f"""
    SELECT {', '.join(_COLS)},
           'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
    FROM orders WHERE o_orderstatus <> 'F'
    UNION ALL
    SELECT {', '.join(_COLS)}, 'delete', CAST(2 AS BIGINT)
    FROM orders WHERE o_orderkey % 11 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderstatus,
           'update_preimage', CAST(3 AS BIGINT)
    FROM orders WHERE o_orderkey % 17 = 0 AND o_orderkey % 11 <> 0
    UNION ALL
    SELECT o_orderkey, o_totalprice + 100.0, o_orderstatus,
           'update_postimage', CAST(3 AS BIGINT)
    FROM orders WHERE o_orderkey % 17 = 0 AND o_orderkey % 11 <> 0
    """,
    tags=("sink", "tablelog", "maintenance"),
)
def table_log_dv_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change data feed over deletion-vector commits (lifts
    T119's documented refusal for the DV case): an append, a DV
    delete and a DV update replay as 'insert' / 'delete' /
    'update_preimage'+'update_postimage' rows with their commit
    versions — the deleted/updated rows' CONTENT is recovered from
    the immutable data files at the positions each commit's vector
    ADDED over the file's previous vector (sink/tablelog.py:
    read_changes_cdf). since_version=0 also pins the range boundary:
    the v0 append (the 'F' rows) is excluded from the feed."""
    orders = load(spark, sf_dir, "orders").select(*_COLS)
    log = TableLog(_scratch("tablelog_cdf_"), stats_col="o_orderkey")
    log.append(orders.filter(F.col("o_orderstatus") == "F"))   # v0
    log.append(orders.filter(F.col("o_orderstatus") != "F"))   # v1
    log.delete_where_dv(spark, "o_orderkey % 11 = 0")          # v2
    log.update_where_dv(                                       # v3
        spark,
        "o_orderkey % 17 = 0",
        {"o_totalprice": "o_totalprice + 100.0"},
    )
    return log.read_changes_cdf(spark, since_version=0)
