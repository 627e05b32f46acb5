"""Plan lint: every registry query's physical plan is swept for the
constructs that do not survive scale — CartesianProduct anywhere, and
BroadcastNestedLoopJoin outside the documented bounded-broadcast cases.
A regression that slips a cartesian or an accidental BNLJ into any suite
query fails here, not at 100 TB.
"""

from __future__ import annotations

import pytest

from c3dc_etl_spark.suite import REGISTRY

SF = "/root/testdata/sf0.001"

# Queries whose RESULT is produced driver-side (golden tool surfaces,
# streaming sinks): their returned frame is a local snapshot, so plan
# shape says nothing about scale. The streaming queries execute their
# real plan inside the streaming engine (covered by the oracle gate).
# name -> WHY the plan fence legitimately does not apply. This is the
# committed exclusion list the r7 verdict asked for (item 4):
# tests/test_plan_budget.py asserts fenced ∪ excluded == registry with
# no overlap, every exclusion names a live registry query, and every
# `streaming_*` exclusion really is a streaming query — so a new batch
# query can neither land unfenced nor be quietly parked here.
_DRIVER_SIDE_REASONS = {
    "config_merge_transformations": "golden tool surface: driver snapshot",
    "mapping_static_validation": "golden tool surface: driver snapshot",
    "reference_file_hashes": "golden tool surface: driver snapshot",
    "document_assembly": "document sink: local JSON snapshot frame",
    "merged_document_assembly": "document sink: local JSON snapshot frame",
    "workbook_sink_roundtrip": "XLSX sink roundtrip: local snapshot",
    "schema_pv_checks": "golden tool surface: driver snapshot",
    "amended_mapping_sink": "mapping sink: local snapshot frame",
    "source_workbook_scan": "XLSX source: committed-fixture local scan",
    "streaming_windowed_counts": "streaming: plan runs in the stream engine",
    "streaming_sliding_windows": "streaming: plan runs in the stream engine",
    "streaming_dedup_digests": "streaming: plan runs in the stream engine",
    "streaming_dedup_ttl_state": "streaming: plan runs in the stream engine",
    "streaming_session_windows": "streaming: plan runs in the stream engine",
    "streaming_session_late_data": "streaming: plan runs in the stream engine",
    "streaming_stateful_running_stats": (
        "streaming: plan runs in the stream engine"
    ),
    "streaming_static_enrich": "streaming: plan runs in the stream engine",
    "streaming_stream_stream_join": (
        "streaming: plan runs in the stream engine"
    ),
    "streaming_outer_join_eviction": (
        "streaming: plan runs in the stream engine"
    ),
    "streaming_tablelog_upsert": "streaming: plan runs in the stream engine",
    "streaming_join_late_drop": "streaming: plan runs in the stream engine",
    "link_wiring_collect": "link audit: bounded driver wiring check",
    # the learned-merge list is a k-row driver artifact by design (each
    # iteration's argmax is a single-row TakeOrdered)
    "bpe_train_merges": "iterative argmax: k-row driver artifact by design",
    # greedy MMR: k one-row argmax picks land as a driver-built k-row
    # frame by design (the BPE-merge pattern)
    "mmr_diversified_topk": (
        "iterative argmax: k-row driver artifact by design"
    ),
    # KM's per-step-quantized integer recurrence is inherently
    # sequential (no Spark recursion); the terms table is reduced by a
    # bounded driver loop over the calendar-bounded duration domain, so
    # the returned frame is a local snapshot (r8, the libm-free rebuild)
    "survival_kaplan_meier": (
        "sequential integer recurrence: bounded driver loop by design"
    ),
}
_DRIVER_SIDE = set(_DRIVER_SIDE_REASONS)

# cosine_topk intentionally BNLJs: the QUERY batch is broadcast (small
# by contract) against streaming candidates with a non-equi predicate.
# ann_ivf_recall / ann_ivf_kmeans_recall compose cosine_topk as their
# ground-truth side, so they inherit that bounded-broadcast shape.
_BNLJ_ALLOWED = {
    "ann_cosine_topk",
    "dedup_embedding_cosine",
    "ann_ivf_recall",
    "ann_ivf_kmeans_recall",
    # r9: the PQ recall pair's exact-L2 ground truth (and plain ADC
    # search) joins the broadcast QUERY batch on a non-equi predicate —
    # the same bounded-broadcast shape as cosine_topk, now via the
    # constant-plan-size lut frame instead of a per-query union tree
    "ann_pq_adc_recall",
    "ann_ivfpq_recall",
    # 1-row x 1-row scalar-aggregate combine (sketch stats x exact
    # counts): bounded by construction; a literal equi-key folds away
    "sketch_kmv_set_algebra",
    # 1-row x 1-row combine of the degree stats and the triangle count
    "triangle_count_coorder",
    # null-aware anti join (NOT IN) over a 3-row literal frame:
    # bounded by construction, and the BNLJ IS the semantics probed
    "nullsafe_join_probe",
    # 1-row x 1-row combine of the full-mean scalar and the bootstrap
    # CI row (r8: the quantile picks moved in-plan so the fence sees
    # the real explode pipeline)
    "bootstrap_mean_ci",
    # r10: MaxSim late interaction broadcasts the QUERY batch with the
    # self-exclusion non-equi predicate — same bounded-broadcast shape
    # as cosine_topk (the n_sub x n_sub interaction is unrolled in the
    # projection, not the join condition)
    "ann_multivector_maxsim",
}


def _sql_executions(spark):
    """The SQL executions Spark retains, in ascending id order, once the
    listener bus has delivered every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore().executionsList()


def _last_execution_id(spark) -> int:
    execs = _sql_executions(spark)
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def _checkpoint_plans(spark, after_id: int) -> list[str]:
    """Physical plans of the ``localCheckpoint`` executions whose id is
    above ``after_id``: independent of how many executions are kept."""
    execs = _sql_executions(spark)
    plans = []
    for i in range(execs.size() - 1, -1, -1):
        e = execs.apply(i)
        if e.executionId() <= after_id:
            break
        if (e.description() or "").startswith("localCheckpoint"):
            plans.append(e.physicalPlanDescription())
    return plans


@pytest.mark.parametrize(
    "name", [n for n in sorted(REGISTRY) if n not in _DRIVER_SIDE]
)
def test_no_cartesian_or_stray_bnlj(spark, name):
    """Lints the query's plan and the plan of every local checkpoint its
    build ran: a checkpointed subplan executes inside the call and shows
    up in the returned plan only as a scan of the stored blocks."""
    before = _last_execution_id(spark)
    df = REGISTRY[name].fn(spark, SF)
    plans = [df._jdf.queryExecution().executedPlan().toString()]
    plans += _checkpoint_plans(spark, before)
    for plan in plans:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
        if name not in _BNLJ_ALLOWED:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name}: unexpected BroadcastNestedLoopJoin"
            )


def test_bucketed_join_is_exchange_free(spark):
    """The co-located bucketed join's SortMergeJoin must read bucket i
    vs bucket i directly: the ONLY Exchange in the plan is the final
    (tiny, k-keyed) priority aggregation above the join — neither join
    side shuffles."""
    df = REGISTRY["join_bucketed_colocated"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, "bucketed join degraded from SMJ"
    join_subtree = plan[plan.index("SortMergeJoin"):]
    assert "Exchange" not in join_subtree, (
        "bucketed join sides must not shuffle:\n" + join_subtree
    )
    assert plan.count("Exchange") <= 1  # the post-join agg only


def test_aqe_splits_skewed_join_partition(spark):
    """AQE evidence (VERDICT r4 ask #5): on a deliberately skewed join
    key, the ADAPTIVE final plan must actually fire the skew-join
    rewrite — the sort-merge join is marked ``skew=true`` and the
    shuffle read on the skewed side is split into more tasks than the
    static partition count. This turns the 'AQE handles skew at scale'
    design note into an executed-plan assertion."""
    from pyspark.sql import functions as F

    saved = {}
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        # disable coalescing so the split count is directly observable
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # forbid broadcast: the skew rewrite only applies to SMJ
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        # left: one hot key (0) carrying ~95% of rows with an
        # INCOMPRESSIBLE payload (sha2 — AQE's skew detection reads
        # compressed map-output sizes, so a constant payload would
        # compress below any realistic threshold); right: uniform small
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0)).otherwise(F.col("id") % 97)
            .alias("k"),
            F.concat(
                F.sha2(F.col("id").cast("string"), 256),
                F.sha2((F.col("id") + 1).cast("string"), 256),
            ).alias("payload"),
        )
        right = spark.range(0, 97).select(
            F.col("id").alias("k"), F.lit("dim").alias("side")
        )
        joined = left.join(right, "k").groupBy("side").count()
        [row] = joined.collect()
        assert row["count"] == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, "adaptive plan did not finalize"
        assert "SortMergeJoin(skew=true)" in plan, (
            "AQE skew-join rewrite did not fire:\n" + plan
        )
        assert "AQEShuffleRead skewed" in plan, (
            "skewed partition was not split into sub-reads:\n" + plan
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_promotes_smj_to_broadcast_at_runtime(spark):
    """AQE evidence, part 2: when the STATIC size estimate forbids a
    broadcast (static threshold off) but the runtime shuffle statistics
    show one side is tiny, the adaptive plan must re-plan the
    sort-merge join into a BroadcastHashJoin — the runtime
    re-plan that saves the sort+merge on the big side at scale."""
    from pyspark.sql import functions as F

    saved = {}
    confs = {
        "spark.sql.adaptive.enabled": "true",
        # static planner may NOT broadcast...
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # ...but AQE may, from observed shuffle sizes
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "10MB",
        "spark.sql.adaptive.localShuffleReader.enabled": "true",
    }
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 500_000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("payload")
        )
        small = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.lit("dim").alias("side")
        )
        joined = big.join(small, "k").agg(F.count(F.lit(1)).alias("n"))
        [row] = joined.collect()
        assert row["n"] == 500_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        final = plan.split("== Initial Plan ==")[0]
        initial = plan.split("== Initial Plan ==")[1]
        assert "SortMergeJoin" in initial, (
            "static plan should have been an SMJ:\n" + initial
        )
        assert "BroadcastHashJoin" in final and "SortMergeJoin" not in final, (
            "AQE did not promote the SMJ to a broadcast join:\n" + final
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """DPP evidence (the AQE tests' static-layout sibling): joining a
    hive-partitioned fact on its partition column against a FILTERED
    broadcastable dim must inject a dynamicpruningexpression into the
    fact scan's PartitionFilters — the dim filter's surviving keys prune
    fact DIRECTORIES at runtime, before any parquet footer opens. This
    is the mechanism that makes star-join date filters touch only
    matching partitions at 100 TB."""
    from pyspark.sql import functions as F

    fact_dir = str(tmp_path / "fact_dpp")
    spark.range(0, 50_000).select(
        (F.col("id") % 20).alias("pk"), F.col("id").alias("v")
    ).write.partitionBy("pk").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.range(0, 20).select(
        F.col("id").alias("dk"), (F.col("id") % 5).alias("grp")
    )
    joined = (
        fact.join(F.broadcast(dim), fact["pk"] == dim["dk"])
        .filter(F.col("grp") == 0)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("pk").alias("nk"))
    )
    [row] = joined.collect()
    # grp 0 keeps dk in {0, 5, 10, 15}: 4 of 20 partitions, 2500 each
    assert row["nk"] == 4 and row["n"] == 10_000
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "dynamic partition pruning did not inject a runtime filter:\n"
        + plan
    )


def test_join_strategy_hints_are_honored(spark):
    """Join-strategy control evidence: the same equi-join planned three
    ways — default (broadcast under the threshold), SHUFFLE_HASH
    (builds a hash map per partition, no sort — the right call when
    both sides are large but one partitions small), and MERGE (SMJ).
    Hints are how a user overrides the cost model at 100 TB when stats
    mislead it; this pins that the engine actually honors them."""
    from pyspark.sql import functions as F

    left = spark.range(0, 10_000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("v")
    )
    right = spark.range(0, 500).select(
        F.col("id").alias("k"), F.lit("d").alias("tag")
    )

    def plan_of(j):
        return j._jdf.queryExecution().executedPlan().toString()

    p_default = plan_of(left.join(right, "k"))
    assert "BroadcastHashJoin" in p_default

    p_shuffle = plan_of(left.join(right.hint("shuffle_hash"), "k"))
    assert "ShuffledHashJoin" in p_shuffle, p_shuffle

    p_merge = plan_of(left.join(right.hint("merge"), "k"))
    assert "SortMergeJoin" in p_merge, p_merge


def test_parquet_aggregate_pushdown_fires(spark, tmp_path):
    """Aggregate-pushdown evidence: with
    spark.sql.parquet.aggregatePushdown on, a bare COUNT(*) / MIN / MAX
    over a parquet scan must be answered from FOOTER STATISTICS — the
    plan's scan node advertises PushedAggregation and no row-level scan
    feeds the aggregate. At 100 TB this is the difference between a
    metadata read and a full-table pass for the most common audit
    queries (row counts, domain bounds). Requires the v2 DSv2 path
    (USING parquet table or the files API with the conf set)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "agg_pd")
    spark.range(0, 10_000).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    ).write.mode("overwrite").parquet(path)
    saved = {}
    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        # aggregate pushdown is a DSv2 feature: route the read through v2
        "spark.sql.sources.useV1SourceList": "",
    }
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        df = spark.read.parquet(path).agg(
            F.count(F.lit(1)).alias("n"),
            F.min("id").alias("lo"),
            F.max("id").alias("hi"),
        )
        [row] = df.collect()
        assert (row["n"], row["lo"], row["hi"]) == (10_000, 0, 9_999)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation" in plan and "COUNT(*)" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

# Global windows whose input is bounded by construction but not via an
# aggregate/limit node the lint can see. Reviewed by hand; every entry
# must say WHY the input is bounded.
_GLOBAL_WINDOW_ALLOWED: set[str] = {
    # skyline_2d's exact two-window pass runs on the bucket-dominance
    # PREFILTERED candidate set (operators/skyline.py): each row
    # survives only if it beats the running max of all strictly-earlier
    # x-buckets, so candidates are near-frontier-sized. The cardinality
    # path is a join probe over the scan (unbounded to the lint), but
    # the filter above the join is the bound; worst case (input already
    # a frontier) equals the output itself, inherent to exact skyline.
    "skyline_pareto_parts",
}


@pytest.mark.parametrize(
    "name", [n for n in sorted(REGISTRY) if n not in _DRIVER_SIDE]
)
def test_global_window_only_after_aggregation(spark, name):
    """r6 verdict #5: 28 unpartitioned Window.orderBy sites are correct
    only because they run post-aggregation on a bounded domain. Pin the
    invariant: any single-partition WindowExec must have an aggregate
    (or bounded leaf/limit) in its subtree, so a future query cannot
    silently sort 100 TB on one partition.

    The same plan walk also runs the r8 spread()-before-hot-map lint
    (underparallel_fanout_violations): a literal-factor sequence
    explode must not inherit a shuffle-free scan's 1-2 local
    partitions — the r8 bootstrap defect class, now machine-checked
    registry-wide."""
    from scripts.plan_report import (
        global_window_violations,
        underparallel_fanout_violations,
    )

    root = REGISTRY[name].fn(spark, SF)._jdf.queryExecution().sparkPlan()
    badf = underparallel_fanout_violations(root)
    assert not badf, f"{name}: under-parallel constant fan-out: {badf}"
    if name in _GLOBAL_WINDOW_ALLOWED:
        pytest.skip("hand-reviewed bounded input")
    bad = global_window_violations(root)
    assert not bad, f"{name}: unbounded global window(s): {bad}"


def test_fanout_lint_fires_on_prefix_bootstrap_shape(spark):
    """The lint must flag the exact shape the r8 bench rotation caught:
    a single-file parquet scan (1-2 input partitions) feeding a
    per-row explode(sequence(<lit>, <lit>)) resample-lane generator
    with NO exchange in between — and pass the post-fix form, where
    spread() re-partitions the scan before the hot map."""
    from pyspark.sql import functions as F

    from c3dc_etl_spark.operators.dedup import spread
    from scripts.plan_report import underparallel_fanout_violations

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_quantity")
    lanes = F.explode(F.sequence(F.lit(0), F.lit(49))).alias("lane")
    pre_fix = li.select("l_quantity", lanes)
    bad = underparallel_fanout_violations(
        pre_fix._jdf.queryExecution().sparkPlan()
    )
    assert bad, "lint missed the shuffle-free constant-fan-out explode"

    post_fix = spread(li).select("l_quantity", lanes)
    ok = underparallel_fanout_violations(
        post_fix._jdf.queryExecution().sparkPlan()
    )
    assert not ok, f"lint flagged the spread()-fixed shape: {ok}"

    # bounded inputs are exempt however they are partitioned: a
    # value-domain aggregate fanned out by a literal grid is small
    agg = li.groupBy().agg(F.sum("l_quantity").alias("s"))
    ok2 = underparallel_fanout_violations(
        agg.select("s", lanes)._jdf.queryExecution().sparkPlan()
    )
    assert not ok2, f"lint flagged a bounded-input fan-out: {ok2}"

    # and a SMALL literal fan-out (< min_fanout) is not a hot map
    small = li.select(
        "l_quantity", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("l")
    )
    ok3 = underparallel_fanout_violations(
        small._jdf.queryExecution().sparkPlan()
    )
    assert not ok3, f"lint flagged a small fan-out: {ok3}"

    # the detector reads the folded literal's element count, so every
    # constant-array spelling is covered, not just sequence():
    # array_repeat and an explicit F.array both fold to array literals
    rep = li.select(
        "l_quantity",
        F.explode(F.array_repeat(F.lit(1), 32)).alias("l"),
    )
    bad2 = underparallel_fanout_violations(
        rep._jdf.queryExecution().sparkPlan()
    )
    assert bad2, "lint missed an array_repeat literal fan-out"
    arr = li.select(
        "l_quantity",
        F.explode(F.array(*[F.lit(i) for i in range(20)])).alias("l"),
    )
    bad3 = underparallel_fanout_violations(
        arr._jdf.queryExecution().sparkPlan()
    )
    assert bad3, "lint missed an explicit literal-array fan-out"


def test_global_window_lint_catches_violation(spark):
    """Deliberate violation: a raw parquet scan straight into an
    unpartitioned row_number must be flagged."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from scripts.plan_report import global_window_violations

    df = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
        "rn", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    bad = global_window_violations(df._jdf.queryExecution().sparkPlan())
    assert bad, "lint failed to flag a scan-fed global window"


def test_global_window_lint_not_laundered_by_broadcast_agg_join(spark):
    """Boundedness must follow the cardinality path: a full scan joined
    to a broadcast AGGREGATE is still a full-table stream — the agg on
    the build side must not launder the global window past the lint."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from scripts.plan_report import global_window_violations

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    dim = orders.groupBy("o_orderstatus").agg(F.count("*").alias("n"))
    joined = orders.join(F.broadcast(dim), "o_orderstatus").withColumn(
        "rn", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    bad = global_window_violations(joined._jdf.queryExecution().sparkPlan())
    assert bad, "broadcast-agg join laundered an unbounded global window"


def test_global_window_lint_not_laundered_by_primary_id_agg(spark):
    """ADVICE r7: an aggregate whose grouping keys include a per-row id
    keeps ~table cardinality — groupBy(o_orderkey) feeding an
    unpartitioned window must still flag, while a genuine value-domain
    aggregate (o_orderstatus) stays allowed."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from scripts.plan_report import global_window_violations

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    per_key = orders.groupBy("o_orderkey").agg(
        F.sum("o_totalprice").alias("t")
    ).withColumn("rn", F.row_number().over(Window.orderBy("t")))
    bad = global_window_violations(
        per_key._jdf.queryExecution().sparkPlan()
    )
    assert bad, "primary-id aggregate laundered an unbounded global window"

    per_status = orders.groupBy("o_orderstatus").agg(
        F.sum("o_totalprice").alias("t")
    ).withColumn("rn", F.row_number().over(Window.orderBy("t")))
    ok = global_window_violations(
        per_status._jdf.queryExecution().sparkPlan()
    )
    assert not ok, f"value-domain aggregate wrongly flagged: {ok}"

    # a DERIVED bounded key that merely mentions the id (salt/bucket
    # modulo) is a 32-row domain — must NOT flag (r8 review: the
    # substring form misclassified it)
    per_salt = orders.groupBy(
        F.expr("o_orderkey % 32").alias("salt")
    ).agg(F.sum("o_totalprice").alias("t")).withColumn(
        "rn", F.row_number().over(Window.orderBy("t"))
    )
    ok2 = global_window_violations(
        per_salt._jdf.queryExecution().sparkPlan()
    )
    assert not ok2, f"bounded salt aggregate wrongly flagged: {ok2}"
