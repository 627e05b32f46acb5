"""Connected-components operator: correctness on known graphs."""

from __future__ import annotations

from pyspark.sql import functions as F

from c3dc_etl_spark.operators.graph import connected_components, dedup_assignment


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_chain_collapses_to_min(spark):
    # 1-2-3-4-5 chain: one component rooted at 1. A chain is the
    # worst case for plain propagation; pointer jumping must still
    # converge quickly.
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    got = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_two_components_and_duplicate_edges(spark):
    e = _edges(spark, [(10, 11), (11, 10), (11, 12), (20, 21), (21, 20)])
    got = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_self_loops_ignored(spark):
    e = _edges(spark, [(1, 1), (2, 3)])
    got = {r["node"]: r["component"] for r in connected_components(e).collect()}
    # node 1 only had a self-loop: it is not part of the pair graph
    assert got == {2: 2, 3: 2}


def test_long_chain_converges_within_log_rounds(spark):
    n = 64
    e = _edges(spark, [(i, i + 1) for i in range(1, n)])
    got = {r["node"]: r["component"] for r in connected_components(e, max_iter=10).collect()}
    assert set(got.values()) == {1}
    assert len(got) == n


def test_dedup_assignment_singletons_and_flag(spark):
    nodes = spark.range(1, 7).select(F.col("id").alias("doc_id"))
    e = _edges(spark, [(2, 4), (4, 6)])
    rows = {
        r["doc_id"]: (r["component"], r["is_representative"])
        for r in dedup_assignment(nodes, e, node_col="doc_id").collect()
    }
    assert rows == {
        1: (1, True),
        2: (2, True),
        3: (3, True),
        4: (2, False),
        5: (5, True),
        6: (2, False),
    }


def test_iteration_partitions_derivation():
    """Iterative-loop reducer sizing is DERIVED from working-set
    volume (operators/iterscope.py), never a core count: the measured
    local tune falls out of the formula and a bigger corpus sizes up."""
    from c3dc_etl_spark.operators.iterscope import iteration_partitions

    # sf0.1 purchase graph: ~1.2M edges x 48B ~= 56MB -> 8 parts
    assert iteration_partitions(1_200_000) == 8
    # x5 corpus: 6M edges -> 64 parts (grows with data)
    assert iteration_partitions(6_000_000) == 64
    # floor keeps real compute parallel on tiny graphs
    assert iteration_partitions(100) == 8
    assert iteration_partitions(100, min_partitions=4) == 4
    assert iteration_partitions(10**9, max_partitions=256) == 256
    import pytest as _pytest

    with _pytest.raises(ValueError):
        iteration_partitions(-1)


def test_iteration_shuffle_scope_restores_conf(spark):
    from c3dc_etl_spark.operators.iterscope import iteration_shuffle_scope

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    with iteration_shuffle_scope(spark, 1_200_000) as parts:
        assert parts == 8
        assert spark.conf.get(key) == "8"
    assert spark.conf.get(key) == prev
    # restored on exception too
    try:
        with iteration_shuffle_scope(spark, 1_200_000):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == prev


def test_pagerank_lazy_plan_shape_fence(spark):
    """eager_final collapses the registry query's visible plan to a
    checkpoint scan, which FORFEITS plan-lint coverage there — so fence
    the underlying lazy power-iteration plan here instead: no
    cartesian products, no stray nested-loop joins; the static
    degree-annotated edge frame is checkpointed once, so no iteration
    consumer re-derives it from the fact tables."""
    from c3dc_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 20}") for i in range(40)],
        "src string, dst string",
    )
    ranks = pagerank(edges, 20, iterations=3, eager_final=False)
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_registry_lazy_plan_shape_fence(spark):
    """The REGISTRY query's real pipeline (orders x lineitem edge
    derivation + 3 power iterations) built lazily, so the plan the
    eager_final checkpoint hides from tests/plan_budget.json (its row
    pins all zeros) stays fenced here (ADVICE r10): no cartesians, no
    nested-loop joins, and the scan/exchange footprint of the full
    lazy 3-iteration DAG stays inside the measured round-11 envelope
    (107 "Scan " substrings / 99 "Exchange") with ~25% headroom — a
    regression that re-derives the checkpointed edge frame per
    iteration consumer would blow through it."""
    from c3dc_etl_spark.suite.graph_ops import build_purchase_pagerank

    ranks = build_purchase_pagerank(
        spark, "/root/testdata/sf0.001", eager_final=False
    )
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    scans = plan.count("Scan ")
    exchanges = plan.count("Exchange")
    assert scans <= 135, f"lazy pagerank plan grew to {scans} scans"
    assert exchanges <= 125, f"lazy pagerank plan grew to {exchanges} exchanges"


def test_parquet_row_count_file_dir_and_cache(spark, tmp_path):
    """Footer-based row counts (ADVICE r10): exact on single-file AND
    directory parquet, and cached per path (second call hits no I/O
    worth measuring — assert via the cache dict)."""
    from c3dc_etl_spark import sizing

    single = "/root/testdata/sf0.001/lineitem.parquet"
    expected = spark.read.parquet(single).count()
    assert sizing.parquet_row_count(single) == expected
    d = str(tmp_path / "multi.parquet")
    spark.range(1000).repartition(4).write.parquet(d)
    assert sizing.parquet_row_count(d) == 1000
    assert sizing._ROW_COUNT_CACHE[d] == 1000
    assert sizing._ROW_COUNT_CACHE[single] == expected


def test_seed_type_validated_against_edges(spark):
    """ADVICE r12 #2: a seed whose type mismatches the edge node
    representation must FAIL FAST, not compile into an implicit-cast
    join that silently returns an empty frontier; bool is rejected
    (isinstance(True, int) is True but a bool seed is always a bug)."""
    import pytest

    from c3dc_etl_spark.operators.graph import bfs_hops, sssp_bounded

    long_edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src LONG, dst LONG"
    )
    str_edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src STRING, dst STRING"
    )
    wts = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1)], "src LONG, dst LONG, w LONG"
    )
    # matched seeds work
    got = {tuple(r) for r in bfs_hops(long_edges, 1, max_hops=2).collect()}
    assert got == {(1, 0), (2, 1), (3, 2)}
    got = {tuple(r) for r in bfs_hops(str_edges, "a", max_hops=2).collect()}
    assert got == {("a", 0), ("b", 1), ("c", 2)}
    # mismatches fail fast on BOTH operators
    with pytest.raises(TypeError, match="int seed"):
        bfs_hops(str_edges, 1, max_hops=2)
    with pytest.raises(TypeError, match="str seed"):
        bfs_hops(long_edges, "1", max_hops=2)
    with pytest.raises(TypeError, match="seed must be"):
        bfs_hops(long_edges, True, max_hops=2)
    with pytest.raises(TypeError, match="str seed"):
        sssp_bounded(wts, "1", rounds=2)
    with pytest.raises(TypeError, match="seed must be"):
        sssp_bounded(wts, True, rounds=2)


def test_default_driver_mem_derivation():
    """ADVICE r12 #3: the driver-heap default derives from the memory
    the process may use (host RAM or cgroup limit, whichever is smaller;
    45%, capped 48g, floored 4g) instead of assuming the 128 GiB bench
    box; with that much memory available it must still derive the
    bench-comparable 48g."""
    from c3dc_etl_spark.session import _default_driver_mem, memory_limit_bytes

    val = _default_driver_mem()
    assert val.endswith("g")
    n = int(val[:-1])
    assert 4 <= n <= 48
    if memory_limit_bytes() >= 110 * 1024**3:  # the 128 GiB class box
        assert n == 48


def test_link_prediction_fallback_without_footer_stats(spark, monkeypatch):
    """A lineitem file without footer stats cannot prove the part keys
    fit the packed broadcast key, so link prediction takes the
    struct-keyed fallback: no packed key and no array explode in its
    plan, and the same top-k rows as the fast shape."""
    from conftest import SF0001 as sf

    from c3dc_etl_spark import sizing
    from c3dc_etl_spark.suite.graph_ops import link_prediction_common_neighbors

    fast = link_prediction_common_neighbors(spark, sf)
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    fast_rows = sorted(fast.collect())
    assert "shiftleft" in fast_plan and "Generate" in fast_plan

    monkeypatch.setattr(sizing, "parquet_column_range", lambda path, col: None)
    slow = link_prediction_common_neighbors(spark, sf)
    slow_plan = slow._jdf.queryExecution().executedPlan().toString()
    slow_rows = sorted(slow.collect())
    assert "shiftleft" not in slow_plan and "Generate" not in slow_plan
    assert len(fast_rows) > 0
    assert slow_rows == fast_rows


def test_broadcast_budget_from_driver_memory(spark):
    """One sixteenth of spark.driver.memory; a bare number is MiB. Any
    default heap (4g or more) keeps link prediction's fast shape
    (<= 72 broadcast bytes per lineitem row) through sf0.1's 600k
    lineitem rows."""
    from c3dc_etl_spark import sizing

    assert sizing._memory_string_bytes("4g") == 4 << 30
    assert sizing._memory_string_bytes("512m") == 512 << 20
    assert sizing._memory_string_bytes("2048") == 2 << 30
    raw = spark.sparkContext.getConf().get("spark.driver.memory", "1g")
    budget = sizing.broadcast_budget_bytes(spark)
    assert budget == sizing._memory_string_bytes(raw) // 16
    if sizing._memory_string_bytes(raw) >= 4 << 30:
        assert 600_000 * 72 <= budget
