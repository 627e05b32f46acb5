"""Shared intermediates are eager local checkpoints: their blocks are
stored while the frame built on them is referenced and freed by Spark's
ContextCleaner once it is dropped, and no other query can take them
away in between."""

from __future__ import annotations

import gc
import time

from conftest import SF0001 as SF

from c3dc_etl_spark.suite import REGISTRY


def _stored(spark) -> set[int]:
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _collect_garbage(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def test_range_sampled_blocks_live_as_long_as_the_frame(spark):
    """row_numbering_lineage stores its range-repartitioned frame while
    the result is referenced (even across a GC) and frees it after
    ``del``, under a bounded GC poll."""
    before = _stored(spark)
    df = REGISTRY["row_numbering_lineage"].fn(spark, SF)
    assert df.count() > 0
    ours = _stored(spark) - before
    assert ours, "the numbering stored no blocks"
    _collect_garbage(spark)
    time.sleep(0.5)
    assert ours <= _stored(spark), "blocks freed while the frame is referenced"
    del df
    deadline = time.monotonic() + 60
    while ours & _stored(spark) and time.monotonic() < deadline:
        _collect_garbage(spark)
        time.sleep(0.2)
    assert not ours & _stored(spark), "range-sampled blocks outlived the frame"


def test_numbering_survives_another_query_between_build_and_collect(spark):
    """Build the numbering, run another registry query that checkpoints
    its own intermediates, then collect the numbering: the rows equal
    the DuckDB oracle's, because the sampled range boundaries the
    numbering and offset subtrees share cannot be dropped or
    re-sampled in between."""
    import duckdb

    spec = REGISTRY["row_numbering_lineage"]
    numbered = spec.fn(spark, SF)
    assert REGISTRY["dedup_minhash_lsh"].fn(spark, SF).collect()
    _collect_garbage(spark)
    got = sorted(tuple(r) for r in numbered.collect())

    con = duckdb.connect()
    con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{SF}/customer.parquet')")
    want = sorted(tuple(r) for r in con.execute(spec.oracle).fetchall())
    assert got and got == want
