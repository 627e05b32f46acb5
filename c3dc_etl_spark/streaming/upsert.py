"""Streaming CDC apply: foreachBatch idempotent latest-wins upsert into
a parquet snapshot.

The sink side of a change-data-capture pipeline: each micro-batch
merges into a keyed snapshot so the table always holds one row per key
— the newest by a total change order. The merge is IDEMPOTENT (applying
the same batch twice is a no-op), which together with the checkpoint's
exactly-once batch ids gives end-to-end exactly-once delivery even
across retries (the standard foreachBatch contract: batches may be
re-delivered after a failure; the sink must tolerate it).

Scale notes:
- The per-batch merge is union + per-key argmax (ONE shuffle on the
  key); at warehouse scale the read-modify-write of the full snapshot
  becomes a table-format MERGE commit (Delta/Iceberg) keyed the same
  way — the logic here is the portable core, the atomic-swap publish
  is the local stand-in for a metadata commit.
- The snapshot swap is write-new-directory + rename (sink/publish.py):
  a crash at ANY point leaves the previous snapshot recoverable — the
  one window between the two renames is healed by ``recover`` on the
  next merge or read. Local-FS semantics; at cluster scale the swap is
  a table-format metadata commit (see sink/publish.py scope note).
- max(struct(order_cols..., payload)) does the argmax without a window:
  a partial-aggregable single pass, no per-key sort.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c3dc_etl_spark.sink.publish import publish, recover


def _latest_per_key(
    df: DataFrame, key_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """One row per ``key_cols``: the row that is greatest under the total
    order ``order_cols``, via max(struct(order..., payload...)) — one
    partial-aggregate shuffle on the key, no window, no per-key sort."""
    payload = [c for c in df.columns if c not in key_cols]
    best = df.groupBy(*key_cols).agg(
        F.max(
            F.struct(*order_cols, *[c for c in payload if c not in order_cols])
        ).alias("__best")
    )
    return best.select(*key_cols, *[F.col(f"__best.{c}").alias(c) for c in payload])


def upsert_latest(
    batch: DataFrame,
    snapshot_dir: str,
    *,
    key_cols: list[str],
    order_cols: list[str],
) -> None:
    """Merge one batch into the snapshot at ``snapshot_dir``:
    latest-wins per ``key_cols`` under the total order ``order_cols``
    (which must be totally ordered per key — include a unique tiebreak).
    Safe to call repeatedly with the same batch (idempotent) and safe
    against concurrent readers (atomic directory swap)."""
    spark = batch.sparkSession
    # heal a crash that happened between a previous merge's two publish
    # renames BEFORE deciding the current state — otherwise the prior
    # snapshot (parked at .old) would be invisible here and the merge
    # would silently restart from just this batch's keys
    recover(snapshot_dir)
    current = None
    if os.path.exists(os.path.join(snapshot_dir, "_SUCCESS")):
        current = spark.read.parquet(snapshot_dir)
    unioned = batch if current is None else current.unionByName(batch)
    merged = _latest_per_key(unioned, key_cols, order_cols)
    tmp_dir = snapshot_dir + ".staging"
    # materialize BEFORE touching the live snapshot: merged lazily reads
    # the current snapshot, so writing in place would read-while-truncate
    merged.write.mode("overwrite").parquet(tmp_dir)
    publish(tmp_dir, snapshot_dir)
    # invalidate the session's cached file listing for the swapped path
    spark.catalog.refreshByPath(snapshot_dir)


def _drain(stream: DataFrame, apply_batch, checkpoint_dir: str, mode: str) -> None:
    """Drain the stream's backlog (availableNow) through ``apply_batch``
    in output mode ``mode``, checkpointed at ``checkpoint_dir``."""
    (
        stream.writeStream.foreachBatch(apply_batch)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_upsert_stream(
    stream: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    *,
    key_cols: list[str],
    order_cols: list[str],
) -> None:
    """Drain the stream's backlog (availableNow) through the upsert
    sink, one merge per micro-batch, exactly-once via checkpointed
    batch ids + the idempotent merge."""

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        upsert_latest(
            batch, snapshot_dir, key_cols=key_cols, order_cols=order_cols
        )

    _drain(stream, apply_batch, checkpoint_dir, "append")


def _exactly_once_merge(table_dir: str, key_col: str, app: str, prepare):
    """The foreachBatch body shared by the table-log sinks: each batch
    lands as ONE copy-on-write MERGE commit of ``prepare(batch)`` on
    ``key_col`` carrying the ``(app, batch_id)`` txn action. A
    re-delivered batch (foreachBatch's at-least-once contract after a
    crash between sink write and checkpoint advance) is skipped when the
    log's high-water mark already covers it, and a racing retry of the
    same batch is rejected IN the same atomic commit as the data — that
    is exactly-once by construction, not by idempotence."""
    from c3dc_etl_spark.sink.tablelog import CommitConflict, TableLog

    log = TableLog(table_dir, stats_col=key_col)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        done = log.last_txn(app)
        if done is not None and done >= batch_id:
            return  # re-delivered batch: already committed
        try:
            log.merge_upsert(
                batch.sparkSession, prepare(batch), key_col, txn=(app, batch_id)
            )
        except CommitConflict:
            # CommitConflict covers three cases: (a) a concurrent retry
            # of the SAME batch won the race — exactly-once preserved,
            # swallow; (b) a foreign writer invalidated our removes /
            # overlapped our keys; (c) retry exhaustion. Swallowing (b)
            # or (c) would let foreachBatch report success, advance the
            # checkpoint, and PERMANENTLY drop the batch — so only
            # swallow when the log's high-water mark proves this batch
            # is already in.
            done = log.last_txn(app)
            if done is None or done < batch_id:
                raise

    return apply_batch


def run_windowed_agg_stream_tablelog(
    agg_stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    *,
    key_col: str,
    app_id: str | None = None,
) -> None:
    """Streaming WINDOWED AGGREGATE into the transactional table log
    with exactly-once epochs: the CDC-commit machinery of
    :func:`run_upsert_stream_tablelog` composed with watermarked
    windowed aggregation.

    ``agg_stream`` is a watermarked streaming aggregate (one row per
    group key, with ``key_col`` a non-NULL surrogate for the full group
    key). Run in UPDATE output mode, each micro-batch delivers exactly
    the windows the batch CHANGED — late-but-in-watermark rows re-emit
    their window with the corrected total — and each batch lands as ONE
    copy-on-write MERGE commit (changed windows replace their prior
    rows; only the files whose stats envelope holds a changed key
    rewrite) with exactly-once epochs (:func:`_exactly_once_merge`). At
    scale the per-epoch merge cost is proportional to the CHANGED
    window set, not the table: exactly the
    incremental-materialized-view shape a 100 TB event stream needs."""
    app = app_id or f"aggsink:{checkpoint_dir}"
    apply_batch = _exactly_once_merge(table_dir, key_col, app, lambda b: b)
    _drain(agg_stream, apply_batch, checkpoint_dir, "update")


def read_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Read the current snapshot, healing an interrupted swap first."""
    recover(snapshot_dir)
    return spark.read.parquet(snapshot_dir)


def run_upsert_stream_tablelog(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    *,
    key_cols: list[str],
    order_cols: list[str],
    app_id: str | None = None,
) -> None:
    """CDC apply through the TRANSACTIONAL table log instead of the
    directory swap: each micro-batch collapses to latest-wins per key
    (argmax inside the batch) and lands as ONE copy-on-write MERGE
    commit carrying a ``txn`` action, so a re-delivered batch is
    rejected by the log's own high-water mark, in the SAME atomic
    commit as the data (:func:`_exactly_once_merge`). Readers get
    snapshot isolation for free: a query planned mid-merge keeps its
    file list. This is the table-format end state the directory-swap
    sink's docstring points at (sink/publish.py scope note), vendored
    locally via sink/tablelog.py."""
    app = app_id or f"cdc:{checkpoint_dir}"
    if len(key_cols) != 1:
        raise ValueError(
            "tablelog CDC merge matches on a single key column "
            "(stats pruning + anti-join key); compose a surrogate key "
            "upstream for compound keys"
        )
    apply_batch = _exactly_once_merge(
        table_dir,
        key_cols[0],
        app,
        lambda batch: _latest_per_key(batch, key_cols, order_cols),
    )
    _drain(stream, apply_batch, checkpoint_dir, "append")
