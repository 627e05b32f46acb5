"""D2/D6: cross-transformation union + first-wins dedup + reconciliation.

Reference _create_merged_json_etl_file (etl/target/c3dc_etl.py:2126-2227)
iterates transformations in order, keeping the first record per
fingerprint cache key — an O(N^2) driver loop. Engine form: union all
transformations with an ordinal column, ONE window over the
(fingerprint, participant) hash partitioning, row_number() == 1.

The reference builds that merged list once and its validation and save
both read it. Here the merge is materialized once, too: the call runs
the union, fingerprint and window in one job and returns a frame over
the stored blocks, so reconciliation, link wiring, violation counts and
the write read the result instead of re-running the merge lineage.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from c3dc_etl_spark.merge.fingerprint import canonical_fingerprint
from c3dc_etl_spark.schema.registry import SchemaRegistry

ORD_COL = "transformation_ord"


def first_wins_merge(
    frames: Sequence[DataFrame],
    node: str,
    registry: SchemaRegistry,
    *,
    key_cols: Sequence[str] = (),
    extra_volatile: Iterable[str] = (),
) -> DataFrame:
    """Merge per-transformation frames of one node: the record from the
    EARLIEST transformation wins per (fingerprint, *key_cols) — the
    reference's cache key is (hash, participant_id, node), so pass
    ``key_cols=('participant_id',)``-style columns where the frame has
    them. Ties inside one transformation resolve by the node id for
    determinism. Adds ``fingerprint`` and ``won_ord`` columns.

    Eager: the call runs one job, ``localCheckpoint(eager=True)`` (AQE
    submits its one shuffle, the window's, as a stage of its own), and
    returns a frame over the stored blocks. The blocks live as long
    as the returned frame: the checkpoint is an RDD persist that Spark's
    ContextCleaner frees once the frame is unreachable, so there is
    nothing to release (every shared intermediate in the engine has
    this lifetime). A local checkpoint does not survive executor loss;
    the engine's sessions are ``local[N]`` (``session.get_spark``)."""
    tagged = [df.withColumn(ORD_COL, F.lit(i + 1)) for i, df in enumerate(frames)]
    unioned = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged)
    fp = canonical_fingerprint(
        node, registry, frame_columns=unioned.columns, extra_volatile=extra_volatile
    )
    df = unioned.withColumn("fingerprint", fp)
    id_field = registry.node(node).id_field
    order = [F.col(ORD_COL).asc()]
    if id_field in df.columns:
        order.append(F.col(id_field).asc())
    w = Window.partitionBy("fingerprint", *key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumnRenamed(ORD_COL, "won_ord")
        .localCheckpoint(eager=True)
    )


def reconciliation_counts(
    merged: DataFrame,
    unmerged_frames: Sequence[DataFrame],
    node: str,
    registry: SchemaRegistry,
    *,
    extra_volatile: Iterable[str] = (),
) -> DataFrame:
    """D6: distinct-fingerprint cardinality check — the merged output
    must carry exactly the distinct content of the unmerged inputs
    (reference _validate_merged_harmonized_data,
    etl/target/c3dc_etl.py:1817-1924). One lazy job, two aggregates; the
    merged side reads ``first_wins_merge``'s stored blocks."""
    unioned = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), unmerged_frames
    )
    fp = canonical_fingerprint(
        node, registry, frame_columns=unioned.columns, extra_volatile=extra_volatile
    )
    distinct_in = unioned.select(fp.alias("fingerprint")).distinct()
    distinct_out = merged.select("fingerprint").distinct()
    return (
        distinct_in.withColumn("__side", F.lit("in"))
        .unionByName(distinct_out.withColumn("__side", F.lit("out")))
        .groupBy()
        .agg(
            F.count(F.when(F.col("__side") == "in", 1)).alias("distinct_unmerged"),
            F.count(F.when(F.col("__side") == "out", 1)).alias("distinct_merged"),
        )
    )
