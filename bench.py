#!/usr/bin/env python3
"""Headline benchmark for the driver: runs representative queries from the
suite at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line to stdout:

    {"metric": "suite_wall", "value": <total sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

The full detail (compute pass, scale_check linearity) is written to
BENCH_DETAIL.json beside this script — stdout stays inside the
driver's ~2000-char tail capture (r5/r6 landed "parsed": null when the
single line outgrew it).

Each headline query runs THREE times (VERDICT r7 ask #5 added the
warm-up): one UNTIMED warm-up (JIT/codegen/shuffle-file setup — the
source of r6's "session noise" and r7's range_join_events 4.4x ghost),
then a timed ``toArrow()`` (columnar materialization — the same
discipline as scale_check, so ``compute`` times are directly comparable
round-over-round), then a timed full ``collect()`` (the
driver-gate-equivalent row materialization). ``value`` is the
warm-collect HEADLINE suite wall (comparable since r5);
``compute_wall`` sums the compute pass. The ROTATION cohort (VERDICT
r7 ask #6: search/tablelog/learning/stats + never-benched ANN/dedup
shapes) runs warm-up + timed collect and rides the stdout line's
``queries`` map this round.

``scale_check`` is the above-sf0.1 linearity measurement (suite wall and
per-query times stay sf0.1, so rounds remain comparable): the heavy
operator families (near-dup, range join, rollup) re-run on a
deterministic 5x scale-up of documents/events (sf0.5-equivalent) built
once under .scale_bench/ — each copy gets rotated text (independent
shingle space: candidate structure scales linearly, not quadratically)
and a disjoint time range. ``linearity`` is t_scaled / (factor *
t_sf0.1); ~1.0 means linear scaling, >1 flags a super-linear operator.
Disable with SPARK_GRAFT_SCALE_CHECK=0.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# One per operator family: TPC-H-ish aggregation/join, window dedup,
# harmonization pipeline shapes, exact + approximate dedup, ANN, text.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_volume",
    "survival_latest_window",
    "fingerprint_dedup_first_wins",
    "typegroup_fanout_union",
    "explode_subrecords",
    "link_wiring_collect",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "text_quality_features",
    "pivot_long_to_wide",
    "pii_redaction",
    "sequence_packing",
    "sessionize_events",
    "rollup_hypertable",
    "sketch_kmv_distinct",
    "range_join_events",
    "ngram_lm_score",
    "text_tfidf_keywords",
    "profile_documents",
    "scd2_dimension_build",
    "zorder_block_skipping",
    "q18_large_orders",
    "pagerank_purchase_graph",
    "funnel_conversion",
    # round 5: the closing TPC-H shapes + the transactional merge path
    "q10_returned_items",
    "q21_suppliers_kept_waiting",
    "table_log_merge_upsert",
    # round 5 session 4: containment dedup, one-pass covariance, the
    # GD training loop, temperature mixing
    "dedup_containment",
    "embedding_pca_covariance",
    "regressor_train_gd",
    "sample_temperature_mixture",
    # round 5 session 5: full-text retrieval, lexical pair similarity,
    # iterative graph traversal, windowed count-distinct
    "search_bm25_topk",
    "similarity_tfidf_pairs",
    "graph_sssp_bounded",
    "rolling_distinct_users",
    # round 6: spatial grid join + iterative peel
    "geo_grid_radius_join",
    "graph_kcore_bounded",
]

# Round-12 rotation cohort (#6, VERDICT r11 ask #5): 46 of the 92
# queries never driver-benched after cohort #5 — the whole remaining
# dedup/similarity/sink/graph/warehouse families plus the round-12
# growth tier (its first wall-clock rows land with its oracle rows).
# Derived from scripts/rotate_cohorts.py's never-benched grouping
# (registry minus the union of committed BENCH_r* maps; r7-r11
# covered 221; this cohort takes the ledger to 267). Each entry runs
# one untimed warm-up then a timed collect and rides the stdout
# line's "rotation_queries" map; the 41-query HEADLINE wall stays the
# round-comparable "value". tests/test_registry.py asserts the cohort
# is disjoint from every committed BENCH ledger row, so reusing a
# benched query here fails CI.
ROTATION = [
    # the round-12 growth tier gets its first wall-clock rows
    "semantic_dedup_capped",
    "table_log_update_dv",
    "table_log_dv_change_feed",
    # clustering / similarity remainder
    "ann_ivf_kmeans_recall",
    "ann_filtered_topk",
    "ann_ivf_recall",
    "ann_lsh_bucketed",
    "ann_multiprobe_lsh",
    "ann_multivector_maxsim",
    "embedding_norms",
    "embedding_quantize_int8",
    "label_propagation_vote",
    "mmr_diversified_topk",
    # dedup / decontamination remainder
    "contamination_bloom_filter",
    "contamination_ngram_overlap",
    "corpus_snapshot_delta",
    "dedup_boilerplate_spans",
    "dedup_cluster_best",
    "dedup_embedding_cosine",
    "dedup_incremental_lsh",
    "dedup_simhash_pairs",
    "drop_duplicates_pairs",
    "except_reconciliation",
    "minhash_estimation_error",
    # sink / tablelog remainder
    "amended_mapping_sink",
    "document_assembly",
    "merged_document_assembly",
    "sink_duplicate_report",
    "table_log_clone_shallow",
    "table_log_optimize_compaction",
    "table_log_restore_version",
    "table_log_vacuum_reclaim",
    # graph remainder
    "graph_bfs_hops",
    "hierarchy_flatten_paths",
    "link_prediction_common_neighbors",
    "recursive_cte_native",
    "temporal_reachability",
    # warehouse remainder
    "ab_test_stats",
    "dq_expectations_report",
    "scd2_incremental_merge",
    "scd2_point_in_time_join",
    "skew_salt_balance",
    "view_incremental_maintenance",
    # stragglers: last unbenched streaming + geo rows
    "streaming_join_late_drop",
    "geo_morton_cells",
    "geo_nearest_neighbor",
]

# Above-sf0.1 linearity check: the families whose scale behavior is
# non-obvious (candidate generation, interval explode, two-level agg).
# SCALE_CORE stays fixed so its linearity rows are round-comparable.
SCALE_CORE = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "range_join_events",
    "rollup_hypertable",
    "scd2_dimension_build",
    "rolling_time_stats",
    "pagerank_purchase_graph",
    "q12_shipmode_priority",
    "dedup_containment",
    "similarity_tfidf_pairs",
    # round 7 (VERDICT r6 #6): iterative peel + transactional merge
    "graph_kcore_bounded",
    "table_log_merge_upsert",
]

# Rotating scale cohort (VERDICT r8 ask #2): three of round 8's four
# real defects were caught only by AD-HOC factor-5 probes — this makes
# that systematic. Each round swaps in ~6-12 adjudicated-heavy queries;
# tests/test_registry.py pins the cohort contract the way it pins
# PRIORITY. Round 12 (VERDICT r11 asks #1/#6/#7/#8): the growth tier
# (capped SemDeDup + the two DV-protocol queries) lands with its x5
# rows, the prefix-filter watch item gets an x5 re-read, and the
# iterative duo receiving x25 VOLUME probes this round re-read their
# x5 walls under the current sizing; A/B a variant of any of them
# with scripts/ab.py). The r10 cohort's rows live in
# SCALE_LEDGER.json; rotating them out loses nothing (cumulative).
SCALE_ROTATION = [
    # round 12 (VERDICT r11 asks #1/#6): the new at-scale SemDeDup form
    # must land with its x5 row in the same round; the r11 watch-list
    # prefix-filter x5 gets a re-read (its x25 wall 1.335 was
    # volume-adjudicated work-linear — re-read only triggers if x5
    # moves). semantic_dedup_clusters rotates OUT with its guard now
    # defaulting ON (bound 2000): its ledger row points at
    # semantic_dedup_capped as the at-scale form.
    "semantic_dedup_capped",
    "dedup_prefix_filter",
    # round-12 growth tier: an op lands with its x5 row in the round
    "table_log_update_dv",
    "table_log_dv_change_feed",
    # watch-list / volume-probe companions (VERDICT r11 #7/#8):
    # dedup_containment's x5 re-reads every round via SCALE_CORE; the
    # iterative duo getting x25 VOLUME probes this round re-read their
    # x5 walls here
    "triangle_count_coorder",
    "graph_sssp_bounded",
]

SCALE_QUERIES = SCALE_CORE + SCALE_ROTATION

# Noise-robust comparison protocol (VERDICT r10 ask #1): round 10's
# only red-looking number (driver suite wall 66.3s vs r9's 57.4s) was
# proven pure session noise — a uniform 1.21x median per-query
# inflation on code-untouched queries vs the builder's same-code 54.1s
# run. Two structural fixes:
#   (a) a CALIBRATION query runs first (after the global warm-up):
#       median-of-3 timed collects of q1_pricing_summary, a plan
#       untouched since round 1. Its wall, divided by the pinned
#       reference below, is the SESSION FACTOR every artifact carries;
#       round-over-round comparisons divide by it (PLANS.md states the
#       rule; raw walls stay in the artifact for audit).
#   (b) every HEADLINE query reports the MEDIAN of 3 timed collects
#       (raw runs kept in BENCH_DETAIL), so a single GC/scheduler tail
#       cannot masquerade as a per-query regression.
CALIBRATION_QUERY = "q1_pricing_summary"
# Pinned on this machine, round 11, local[32] at sf0.1: the in-bench
# median-of-3 calibration wall of the builder's r11 closing run. The
# calibration's POSITION in the session is fixed (right after the one
# global warm-up, i.e. q1's 2nd-4th executions — early C2-ramp band by
# design), so cross-session readings are apples-to-apples even though
# a fully-hot session would run q1 faster. A session_factor of ~1.0
# means walls are directly comparable to the r11 committed runs; 1.2
# means the session runs 20% slow and normalized walls divide it out.
CALIBRATION_REFERENCE_S = 1.368


def _geo_scale_runner(spark, d: str):
    """Density-constant scale runner for the geo family (VERDICT r6
    #6). The registry query hashes customer keys onto a FIXED
    GRID x GRID torus, so a naive 5x corpus means 5x density and a
    ~25x pair count — the radius join's OUTPUT is quadratic in density,
    which would swamp the linearity signal the check exists to measure.
    A bigger crawl is a bigger WORLD, not a denser one: each scaled
    copy (identified by the key-offset band baked into the scaled
    customer table) lands in its own disjoint x-region, separated by
    > RADIUS, so pairs — and the replicated-cell shuffle — scale
    linearly with the data while the operator under test is unchanged."""
    from pyspark.sql import functions as F

    from c3dc_etl_spark.operators.geo import grid_radius_join
    from c3dc_etl_spark.suite.geo_ops import GRID, RADIUS, _fold

    cust = spark.read.parquet(f"{d}/customer.parquet").select("c_custkey")
    region = F.expr("c_custkey div 10000000")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        (
            (_fold("gx", "c_custkey") % GRID)
            + region * F.lit(GRID + 2 * RADIUS)
        ).alias("x"),
        (_fold("gy", "c_custkey") % GRID).alias("y"),
    )
    return grid_radius_join(pts, "id", "x", "y", RADIUS)


def _geo_nn_scale_runner(spark, d: str):
    """Density-constant scale runner for geo_nearest_neighbor — the
    same fixed-grid trap as _geo_scale_runner: 5x points on the same
    torus is 5x DENSITY, so within-horizon candidate volume grows
    ~25x and the probe measures the densified world, not the operator
    (first probe read 0.842). Each scaled copy lands in its own
    x-region separated by > NN_RADIUS, so candidates — and the
    replicated-cell shuffle — scale linearly."""
    from pyspark.sql import functions as F

    from c3dc_etl_spark.operators.geo import nearest_neighbor
    from c3dc_etl_spark.suite.geo_ops import GRID, NN_RADIUS, _fold

    cust = spark.read.parquet(f"{d}/customer.parquet").select("c_custkey")
    region = F.expr("c_custkey div 10000000")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        (
            (_fold("gx", "c_custkey") % GRID)
            + region * F.lit(GRID + 2 * NN_RADIUS)
        ).alias("x"),
        (_fold("gy", "c_custkey") % GRID).alias("y"),
    )
    return nearest_neighbor(pts, "id", "x", "y", NN_RADIUS)


# Scale-check entries that need a custom runner instead of the registry
# callable (same callable on both sides of the ratio, so the comparison
# stays apples-to-apples).
CUSTOM_SCALE = {
    "geo_grid_radius_join": _geo_scale_runner,
    "geo_nearest_neighbor": _geo_nn_scale_runner,
}

_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _ensure_scaled(spark, sf_dir: str, out_dir: str, factor: int) -> None:
    """Build the scaled documents/events tables once (idempotent marker).
    Copies are made genuinely independent — per-copy alphabet rotation
    for text (disjoint shingle space) and per-copy time/id offsets for
    events (disjoint sessions, windows, buckets) — so the scaled corpus
    behaves like a larger crawl, not 5 identical replicas whose
    near-dup pairs would blow up quadratically."""
    import functools

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from c3dc_etl_spark.suite.registry import read_events_parquet

    # marker records the build inputs: a factor-, base-, or table-set
    # change must rebuild, not silently reuse a stale scaled corpus
    marker = os.path.join(out_dir, "_BUILT")
    stamp = (
        f"factor={factor} base={sf_dir} "
        "tables=docs,events,orders,lineitem,customer,embeddings,"
        "supplier,part,nation,region custnames=v2\n"
    )
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == stamp:
                return
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    doc_parts = []
    # events may be TIMESTAMP(NANOS) parquet (read as long nanos under
    # the fallback conf): normalize to a timestamp column so the
    # per-copy INTERVAL shift below works on every testdata generation
    ev = read_events_parquet(spark, f"{sf_dir}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # fact tables for the fact-fact join + purchase-graph families:
    # per-copy key offsets keep the copies DISJOINT (join volume and
    # graph components scale linearly — a larger business, not 5
    # entangled replicas)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # customer feeds the geo family; the same c*10M offset as o_custkey
    # keeps copies disjoint AND doubles as the copy id (key div 10M)
    # the density-constant geo runner uses for its region shift
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    # embeddings feed the ANN scale probes: per-copy vec_id offsets keep
    # ids disjoint; vectors repeat across copies, which is fine for ANN
    # (cost is per-candidate ADC / brute-force scoring, never pairwise —
    # duplicated points change no cost shape, unlike the text tables)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # supplier/part ride the same +c*10M key offsets the scaled lineitem
    # already applies to l_suppkey/l_partkey, so the x5 corpus is a
    # complete FK-CONSISTENT star schema (any TPC-H join shape can join
    # scale rotations without dangling keys). nation/region copy through
    # VERBATIM: a 5x-larger business has more facts, not more nations —
    # dimension constants must not grow or every per-nation block/group
    # silently changes meaning at scale.
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    ev_parts = []
    ord_parts = []
    li_parts = []
    cust_parts = []
    emb_parts = []
    supp_parts = []
    part_parts = []
    for c in range(factor):
        rot = _ALPHA[c:] + _ALPHA[:c]
        doc_parts.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(c * 100_000_000))
            .withColumn("text", F.translate(F.col("text"), _ALPHA, rot))
        )
        ev_parts.append(
            ev.withColumn("event_id", F.col("event_id") + F.lit(c * 1_000_000_000))
            .withColumn("user_id", F.col("user_id") + F.lit(c * 10_000_000))
            .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {c * 400} DAYS"))
        )
        ord_parts.append(
            orders.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(c * 1_000_000_000))
            .withColumn("o_custkey", F.col("o_custkey") + F.lit(c * 10_000_000))
        )
        li_parts.append(
            li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(c * 1_000_000_000))
            .withColumn("l_suppkey", F.col("l_suppkey") + F.lit(c * 10_000_000))
            .withColumn("l_partkey", F.col("l_partkey") + F.lit(c * 10_000_000))
        )
        # names are re-derived from the offset key (custnames=v2): a
        # copy that kept the base names would hand the linkage family 5
        # exact-duplicate name sets — cross-copy distance-0 pairs would
        # make its probe quadratic in the FACTOR, swamping the linearity
        # signal. Re-keyed names keep the copies disjoint (a larger
        # customer base, not 5 entangled replicas). %09d preserves the
        # base format for keys < 1e9 (5 x 10M offsets stay well under).
        cust_parts.append(
            cust.withColumn(
                "c_custkey", F.col("c_custkey") + F.lit(c * 10_000_000)
            ).withColumn(
                "c_name", F.format_string("Customer#%09d", F.col("c_custkey"))
            )
        )
        emb_parts.append(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(c * 10_000_000))
        )
        supp_parts.append(
            supp.withColumn(
                "s_suppkey", F.col("s_suppkey") + F.lit(c * 10_000_000)
            ).withColumn(
                "s_name", F.format_string("Supplier#%09d", F.col("s_suppkey"))
            )
        )
        part_parts.append(
            part.withColumn(
                "p_partkey", F.col("p_partkey") + F.lit(c * 10_000_000)
            )
        )
    union = lambda parts: functools.reduce(DataFrame.unionByName, parts)  # noqa: E731
    union(doc_parts).repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    union(ev_parts).repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/events.parquet"
    )
    union(ord_parts).repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/orders.parquet"
    )
    union(li_parts).repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/lineitem.parquet"
    )
    union(cust_parts).repartition(8).write.mode("overwrite").parquet(
        f"{out_dir}/customer.parquet"
    )
    union(emb_parts).repartition(8).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )
    union(supp_parts).repartition(4).write.mode("overwrite").parquet(
        f"{out_dir}/supplier.parquet"
    )
    union(part_parts).repartition(4).write.mode("overwrite").parquet(
        f"{out_dir}/part.parquet"
    )
    # dimension constants: verbatim copies, never scaled
    for dim in ("nation", "region"):
        spark.read.parquet(f"{sf_dir}/{dim}.parquet").repartition(
            1
        ).write.mode("overwrite").parquet(f"{out_dir}/{dim}.parquet")
    with open(marker, "w") as fh:
        fh.write(stamp)


def bench_round(repo_dir: str) -> int:
    """This run's round label = max committed BENCH_r<N> + 1, ASCII
    DIGITS-ONLY tags: suffixed artifacts (BENCH_r12_c8.json, the
    low-core scaling run) and non-ASCII digits (``str.isdigit`` accepts
    "²", which ``int`` rejects) would otherwise crash the bench at
    round-label time and lose the stdout line."""
    rounds = [
        int(tag)
        for f in os.listdir(repo_dir)
        if f.startswith("BENCH_r") and f.endswith(".json")
        for tag in [f[len("BENCH_r"):-len(".json")]]
        if re.fullmatch(r"[0-9]+", tag)
    ]
    return (max(rounds) if rounds else 0) + 1


def stdout_line(
    result: dict,
    times: dict,
    rot_times: dict,
    session_factor: float,
    cohort: str,
    sf,
    budget: int = 1900,
) -> str:
    """The ONE stdout JSON line, assembled under the driver's ~2000-char
    tail-capture budget. VERDICT r12 ask #2: the FIXED headline
    per-query medians ride stdout under "queries" again — the key the
    driver joins round-over-round (per-query speedups, geomean,
    8-vs-32-core scaling ratios); r8's rename to rotation_queries-only
    starved PERF_r*.per_query for four rounds. 2-decimal rounding keeps
    the 41-entry map ~1.2 KB. When both cohort maps cannot fit, the
    rotation map is the one moved off stdout (it lives in full in
    BENCH_DETAIL.json "rotation"; scripts/rotate_cohorts.
    benched_and_times still sees rotation rows via BENCH_DETAIL);
    "queries" is truncated next, and the ``cohort`` text last, so the
    line never exceeds ``budget`` once the fixed fields fit."""
    headline = {
        "metric": "suite_wall",
        "value": result["value"],
        "unit": "sec",
        "session_factor": session_factor,
        "value_normalized": result["value_normalized"],
        "queries": {k: round(v, 2) for k, v in times.items()},
        "rotation_queries": {k: round(v, 2) for k, v in rot_times.items()},
        "cohort": cohort,
        "sf": sf,
    }
    line = json.dumps(headline)
    if len(line) > budget:
        headline["rotation_queries"] = {"_truncated": len(rot_times)}
        line = json.dumps(headline)
    if len(line) > budget:
        # never let the headline outgrow the tail capture again: drop
        # the per-query map before the driver loses the whole line
        headline["queries"] = {"_truncated": len(times)}
        line = json.dumps(headline)
    keep = len(cohort)
    while len(line) > budget and keep:
        # the caller's cohort text is cut last. One char costs 1 to 12
        # json chars (an escaped surrogate pair), so cutting overshoot/12
        # chars per step never cuts more than the budget needs.
        keep = max(0, keep - max(1, (len(line) - budget) // 12))
        headline["cohort"] = cohort[:keep]
        line = json.dumps(headline)
    return line


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    from c3dc_etl_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("bench")
    qs = entrymod.queries()

    # Warm-up: JVM + parquet footer caches, not counted.
    qs["q1_pricing_summary"](spark, sf_dir).collect()

    missing = [
        name for name in HEADLINE + ROTATION if name not in qs
    ]
    if missing:
        # a renamed/dropped query must fail the benchmark loudly, not
        # silently shrink the reported suite wall
        raise SystemExit(f"bench queries missing from registry: {missing}")

    def _timed_collect(fn) -> float:
        # the wall includes the build: shared intermediates are eager
        # local checkpoints, materialized inside fn and freed with the
        # frame, so nothing carries over from one run to the next
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        return round(time.perf_counter() - t0, 3)

    # calibration (VERDICT r10 ask #1a): median-of-3 collects of the
    # round-1 pinned-plan query, AFTER the global warm-up above — the
    # per-session speed yardstick every artifact carries
    cal_runs = sorted(_timed_collect(qs[CALIBRATION_QUERY]) for _ in range(3))
    calibration_s = cal_runs[1]
    session_factor = round(calibration_s / CALIBRATION_REFERENCE_S, 3)
    print(
        f"# calibration {CALIBRATION_QUERY}: {cal_runs} -> median "
        f"{calibration_s:.3f}s, session_factor {session_factor:.3f}",
        file=sys.stderr,
    )

    times: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    compute: dict[str, float] = {}
    total = 0.0
    c_total = 0.0
    for name in HEADLINE:
        fn = qs[name]
        # pass 0 — UNTIMED warm-up (VERDICT r7 ask #5): first execution
        # pays JIT/codegen/shuffle-file setup that has twice now shown up
        # as a phantom per-query regression (r6 "session noise", r7's
        # range_join_events 4.4x ghost — 5.9 s cold vs 0.77 s warm on
        # unchanged code). Timed passes below measure steady state.
        fn(spark, sf_dir).toArrow()
        # pass 1 — compute (Arrow materialization): comparable across
        # rounds and against scale_check's bases; isolates the plan from
        # driver-side row-object GC variance
        t0 = time.perf_counter()
        fn(spark, sf_dir).toArrow()
        compute[name] = round(time.perf_counter() - t0, 3)
        c_total += compute[name]
        # passes 2-4 — warm collects, MEDIAN reported (VERDICT r10 ask
        # #1b): the driver-gate-equivalent row materialization, measured
        # three times so a single GC/scheduler tail cannot read as a
        # per-query regression; raw runs ride BENCH_DETAIL for audit
        rs = [_timed_collect(fn) for _ in range(3)]
        runs[name] = rs
        dt = sorted(rs)[1]
        times[name] = dt
        total += dt
        print(
            f"# {name}: compute {compute[name]:.3f}s, collect "
            f"median {dt:.3f}s of {rs}",
            file=sys.stderr,
        )

    # rotation cohort: one untimed warm-up, then a timed collect
    rot_times: dict[str, float] = {}
    rot_total = 0.0
    for name in ROTATION:
        fn = qs[name]
        fn(spark, sf_dir).toArrow()
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        dt = round(time.perf_counter() - t0, 3)
        rot_times[name] = dt
        rot_total += dt
        print(f"# rotation {name}: collect {dt:.3f}s", file=sys.stderr)

    result = {
        "metric": "suite_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "collect_runs": runs,
        "calibration_s": calibration_s,
        "calibration_runs": cal_runs,
        "session_factor": session_factor,
        "value_normalized": round(total / session_factor, 3),
        "compute_wall": round(c_total, 3),
        "compute": compute,
        "rotation_wall": round(rot_total, 3),
        "rotation": rot_times,
        "sf": sf,
    }

    if os.environ.get("SPARK_GRAFT_SCALE_CHECK", "1") != "0":
        factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "5"))
        scale_dir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), ".scale_bench", f"x{factor}"
        )
        os.makedirs(scale_dir, exist_ok=True)
        _ensure_scaled(spark, sf_dir, scale_dir, factor)
        # probe-context reducer sizing (both sides of the ratio): the
        # x-factor corpus gets the bytes-aware shuffle width a real
        # cluster would give it — at fixed cores-count reducers the
        # heavy single shuffles spill (triangle census x5: 1.83x-per-
        # unit wall vs 0.98 with headroom), which measures the local
        # session's memory ceiling, not the algorithm. Session-wide
        # this knob costs +40-150% on iterative queries in local mode
        # (r9 A/B), so it is scoped to the probes and restored after.
        from c3dc_etl_spark.session import default_parallelism

        _ipn_key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        _ipn_prev = spark.conf.get(_ipn_key, None)
        s_times: dict[str, float] = {}
        b_times: dict[str, float] = {}
        linearity: dict[str, float] = {}
        spark.conf.set(_ipn_key, str(8 * default_parallelism()))
        # Both sides of the ratio materialize via Arrow, not collect():
        # every value is still fetched to the driver, but as columnar
        # batches. Row-object collect() is itself linear (measured:
        # 4.7s -> 23.3s for 5x on range_join's 1.1M -> 5.65M rows) yet
        # its driver-side GC variance at multi-million-row lists swamps
        # the operator time this check exists to measure; Arrow keeps
        # materialization proportional to data, so `linearity` reflects
        # the PLAN's scaling. The headline suite above keeps collect()
        # for round-to-round comparability.
        try:
            for name in SCALE_QUERIES + list(CUSTOM_SCALE):
                fn = CUSTOM_SCALE.get(name, qs.get(name))
                t0 = time.perf_counter()
                fn(spark, sf_dir).toArrow()
                b_times[name] = round(time.perf_counter() - t0, 3)
                t0 = time.perf_counter()
                fn(spark, scale_dir).toArrow()
                dt = round(time.perf_counter() - t0, 3)
                s_times[name] = dt
                if b_times[name]:
                    linearity[name] = round(dt / (factor * b_times[name]), 3)
                print(
                    f"# scale x{factor} {name}: base {b_times[name]:.3f}s"
                    f" -> {dt:.3f}s",
                    file=sys.stderr,
                )
                # untimed heap hygiene between scale pairs: by this point
                # the session has run ~3k stages and the x5 joins buffer
                # large matched groups across 32 task threads — reclaiming
                # broadcast/codegen residue eagerly keeps the marginal-heap
                # OOM observed at 16g from recurring (GC runs OUTSIDE every
                # timed window, so measurements are unaffected)
                spark.sparkContext._jvm.System.gc()
        finally:
            # restore even when a probe raises (e.g. a scaled-
            # corpus read failure) — a leaked 8x-cores reducer
            # override would distort the rest of the session
            if _ipn_prev is None:
                spark.conf.unset(_ipn_key)
            else:
                spark.conf.set(_ipn_key, _ipn_prev)
        result["scale_check"] = {
            "factor": factor,
            "base_sf": sf,
            "base_queries": b_times,
            "queries": s_times,
            "linearity": linearity,
        }
        # Cumulative committed record of every scale-linearity row ever
        # measured: BENCH_DETAIL.json is overwritten per run, so without
        # this the rotating SCALE_ROTATION cohort would FORGET prior
        # rounds' rows the moment it rotates and re-propose old queries
        # (scripts/rotate_cohorts.py reads this ledger; BENCH_r*'s
        # stdout ledger plays the same role for the bench ROTATION).
        ledger_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "SCALE_LEDGER.json"
        )
        ledger = {}
        if os.path.exists(ledger_path):
            try:
                with open(ledger_path) as fh:
                    ledger = json.load(fh)
            except ValueError:
                ledger = {}
        for name, lin in linearity.items():
            # refresh the factor-5 measurement but PRESERVE any nested
            # extrapolation sub-rows (x25 probes) and adjudication text
            # already attached — a routine scale_check must never eat
            # committed extrapolation evidence (it did once, round 11)
            extras = {
                k: v
                for k, v in ledger.get(name, {}).items()
                if k == "adjudication"
                or (k.startswith("x") and k[1:].isdigit())
            }
            ledger[name] = {
                "linearity": lin,
                "factor": factor,
                "base_s": b_times[name],
                "scaled_s": s_times[name],
                **extras,
            }
        with open(ledger_path, "w") as fh:
            json.dump(ledger, fh, indent=1, sort_keys=True)
            fh.write("\n")

    # Driver-parseability (VERDICT r6 #3): the driver captures only the
    # LAST ~2000 chars of stdout, so the r5/r6 full-detail line landed
    # "parsed": null (tail began mid-JSON). stdout now carries exactly
    # ONE compact headline line (metric/value/unit/sf/queries ~1.5 KB,
    # comfortably inside the tail window); the full detail — compute
    # pass, scale_check, linearity — goes to BENCH_DETAIL.json beside
    # this script (and to stderr for humans).
    # The stdout line carries THIS round's rotation cohort under the
    # explicit "rotation_queries" key (ADVICE r8 #4: r8 shipped rotation
    # times under "queries", silently changing that field's semantics;
    # the rename keeps "queries" meaning headline-per-query wherever it
    # appears). "value" remains the 41-query HEADLINE wall, unchanged in
    # meaning since r5, so suite_wall stays comparable
    # round-over-round. Both cohorts' full timings live in
    # BENCH_DETAIL.json ("queries" + "rotation").
    # cohort label is MECHANICAL (VERDICT r10 ask #6): derived from the
    # actual ROTATION list and the committed correctness-ledger state,
    # never a hand-written string that can go stale
    import hashlib

    repo_dir = os.path.dirname(os.path.abspath(__file__))
    # Round = max committed BENCH_r* + 1 (ADVICE r11 #3: deriving it
    # from CORRECTNESS_r* assumed bench runs before the round's
    # correctness ledger lands, which the driver does not guarantee —
    # BENCH_r11 shipped labeled "r12" because CORRECTNESS_r11 was
    # already on disk. The BENCH ledger is the one file this run is
    # ABOUT to become, so its max is round-1 by construction.)
    rot_sha = hashlib.sha1(",".join(ROTATION).encode()).hexdigest()[:8]
    cohort = (
        f"r{bench_round(repo_dir)} rotation n={len(ROTATION)} "
        f"sha1={rot_sha}; value = {len(HEADLINE)}-query headline "
        "median-of-3 collect wall"
    )
    line = stdout_line(
        result, times, rot_times, session_factor, cohort, sf
    )
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(result, fh, indent=1)
    # normalized-wall regression fence (VERDICT r11 ask #4): the
    # PLANS.md >1.25x-after-normalization rule as code. Non-fatal here
    # (stderr only — the driver's stdout JSON line stays intact);
    # scripts/bench_fence.py is the standalone gate and
    # tests/test_bench_fence.py pins red/green behavior.
    try:
        sys.path.insert(0, os.path.join(os.path.dirname(
            os.path.abspath(__file__)), "scripts"))
        import bench_fence

        if os.path.exists(bench_fence.FENCE):
            with open(bench_fence.FENCE) as fh:
                offenders = bench_fence.check(result, json.load(fh))
            fresh = [o for o in offenders if "adjudicated" not in o]
            if fresh:
                print(
                    "# FENCE REGRESSIONS (normalized >1.25x committed): "
                    + json.dumps(fresh),
                    file=sys.stderr,
                )
            else:
                print(
                    "# fence OK: no unadjudicated normalized-wall "
                    f"regression ({len(offenders)} adjudicated)",
                    file=sys.stderr,
                )
    except Exception as exc:  # never let the fence kill the artifact
        print(f"# fence check skipped: {exc}", file=sys.stderr)
    print(f"# full detail -> {detail_path}", file=sys.stderr)
    print(json.dumps(result), file=sys.stderr)
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
