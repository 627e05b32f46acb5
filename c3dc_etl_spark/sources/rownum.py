"""Scan-order row numbering without a global sort or a shuffle (P3).

The reference tags every source row with `source_file_row_num`
(petl.addrownumbers(start=2), etl/ccdi/c3dc_etl.py:516) — file order,
once, at load time. Spark has no implicit row order, so this rebuilds
it from the scan itself:

1. ``monotonically_increasing_id`` is ascending and gap-free WITHIN each
   split (one file's rows inside one scan partition) in scan order;
2. one small EAGER aggregate at call time, grouped by split, records
   each split's row count and its min and max id — one row per split;
3. on the driver, splits are ordered by (file name, byte offset) —
   files by name, matching the reference's sorted source-file list
   (O7, etl/mci/c3dc_etl.py:925-927) — and each gets one bigint
   ``delta = start + (rows in earlier splits) - min id``;
4. the returned frame numbers each row with narrow projections,
   ``id + delta``, looking ``delta`` up in a literal map keyed on the
   split. No exchange, join or window: every downstream action reads
   the file once and never repeats the numbering job.

Precondition: ``df`` is a deterministic file scan under narrow filters
(what ``read_delimited`` passes) whose files do not change after the
call. The map key is the split itself — file, scan partition, byte
offset and length — so a row that gets a number has the number the
read gave it. If the split layout changed since the read (for example
``spark.sql.files.maxPartitionBytes`` differs at action time), some
split is missing from the map, or sits behind differently packed
splits in its partition so that its ids shift and its first or last
row leaves the recorded [min, max]. That row fails the action through
``raise_error`` naming the file; rows are never renumbered.

The map holds one entry per split: about 8 per GB of input at the
default 128 MB splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SPLIT = ("__file", "__pid", "__start", "__len")


def with_row_numbers(
    df: DataFrame, *, colname: str = "source_file_row_num", start: int = 2
) -> DataFrame:
    d = df.select(
        "*",
        F.input_file_name().alias("__file"),
        F.spark_partition_id().alias("__pid"),
        F.input_file_block_start().alias("__start"),
        F.input_file_block_length().alias("__len"),
        F.monotonically_increasing_id().alias("__mid"),
    )
    splits = sorted(
        d.groupBy(*_SPLIT)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("__mid").alias("lo"),
            F.max("__mid").alias("hi"),
        )
        .collect(),
        key=lambda r: (r["__file"], r["__start"]),
    )
    entries, before = [], 0
    for r in splits:
        key = F.struct(
            F.lit(r["__file"]).alias("__file"),
            F.lit(r["__pid"]).alias("__pid"),
            F.lit(r["__start"]).cast("bigint").alias("__start"),
            F.lit(r["__len"]).cast("bigint").alias("__len"),
        )
        val = F.struct(
            F.lit(start + before - r["lo"]).cast("bigint").alias("delta"),
            F.lit(r["lo"]).cast("bigint").alias("lo"),
            F.lit(r["hi"]).cast("bigint").alias("hi"),
        )
        entries += [key, val]
        before += r["n"]
    lookup = (
        F.create_map(*entries)[F.struct(*_SPLIT)]
        if entries
        else F.lit(None).cast("struct<delta:bigint,lo:bigint,hi:bigint>")
    )
    mid, hit = F.col("__mid"), F.col("__hit")
    number = F.when(
        hit.isNull() | (mid < hit["lo"]) | (mid > hit["hi"]),
        F.raise_error(F.concat(
            F.lit(f"{colname}: split layout of "), F.col("__file"),
            F.lit(" changed since the read (spark.sql.files.maxPartitionBytes"
                  " or the file changed); re-read the source"),
        )),
    ).otherwise(mid + hit["delta"])
    return (
        d.withColumn("__hit", lookup)
        .withColumn(colname, number.cast("bigint"))
        .drop(*_SPLIT, "__mid", "__hit")
    )
