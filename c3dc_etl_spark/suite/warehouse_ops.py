"""Warehouse-operator queries: SCD Type-2 builds, count-min heavy
hitters, Z-order layout skipping, and blocked record linkage
(operators/warehouse.py), each with a DuckDB oracle.

The reference pipeline emits point-in-time snapshots only; these close
the temporal-versioning / sketching / layout / linkage surface a 100 TB
warehouse built on the same engine needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c3dc_etl_spark.operators import warehouse as W
from c3dc_etl_spark.operators import text as T
from c3dc_etl_spark.suite.registry import dec, load, query

_SCD2_ORACLE = """
WITH ev AS (
    SELECT user_id, event_id, EPOCH_US(ts) AS ts_us, event_type FROM events
),
marked AS (
    SELECT user_id, event_id, ts_us, event_type,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id) AS prev,
           LAG(1) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id) AS has_prev
    FROM ev
),
changes AS (
    -- null-safe change detection, mirroring build_scd2: a NULL attr
    -- period is a real version (IS DISTINCT FROM, never <>), and the
    -- lag'd constant marks the true first row even under a NULL attr
    SELECT user_id, event_id, ts_us, event_type FROM marked
    WHERE has_prev IS NULL OR prev IS DISTINCT FROM event_type
)
SELECT user_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
       event_type,
       ts_us AS eff_from_us,
       LEAD(ts_us) OVER w AS eff_to_us,
       CAST(LEAD(ts_us) OVER w IS NULL AS INT) AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
"""


@query("scd2_dimension_build", oracle=_SCD2_ORACLE, tags=("warehouse", "window"))
def scd2_dimension_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from the event change log: per user,
    consecutive runs of the same event_type collapse into versioned
    rows with [eff_from, eff_to) microsecond validity and an is_current
    flag on the open latest version — the temporal-versioning layer the
    reference's point-in-time snapshots lack. One exchange on user_id
    serves the change-detection LAG, the validity LEAD, and the version
    ROW_NUMBER (the filter between them preserves the partitioning), so
    at 100 TB the cost is a single shuffle of the change log and
    per-entity history never leaves its partition."""
    ev = load(spark, sf_dir, "events")
    return W.build_scd2(
        ev,
        key_col="user_id",
        ts_col="ts_us",
        tiebreak_col="event_id",
        attr_col="event_type",
    ).select(
        "user_id",
        "version",
        "event_type",
        F.col("eff_from").alias("eff_from_us"),
        F.col("eff_to").alias("eff_to_us"),
        "is_current",
    )


# Width deliberately SMALLER than the synthetic corpus's ~31-token
# vocabulary so collision mass is nonzero and the measured overestimates
# are a live signal (width >= vocab would pin every error at 0); at
# corpus scale the same operator runs with width in the thousands.
CMS_DEPTH = 3
CMS_WIDTH = 16
CMS_TOP_K = 20

_CMS_BUCKET = (
    "CAST(CONCAT('0x', SUBSTR(MD5('cms' || depth_i || ':' || {tok}), 1, 8))"
    f" AS BIGINT) % {CMS_WIDTH}"
)

_CMS_ORACLE = f"""
WITH toks AS (
    SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+')) AS token
    FROM documents WHERE TRIM(text) <> ''
),
depths AS (SELECT UNNEST(GENERATE_SERIES(0, {CMS_DEPTH - 1})) AS depth_i),
sketch AS (
    SELECT depth_i, {_CMS_BUCKET.format(tok='token')} AS bucket,
           COUNT(*) AS cell_count
    FROM toks, depths
    GROUP BY 1, 2
),
exact AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n
    FROM toks GROUP BY token
    ORDER BY exact_n DESC, token ASC LIMIT {CMS_TOP_K}
),
probes AS (
    SELECT e.token, e.exact_n, depth_i,
           {_CMS_BUCKET.format(tok='e.token')} AS bucket
    FROM exact e, depths
)
SELECT p.token, p.exact_n,
       CAST(MIN(s.cell_count) AS BIGINT) AS est_count,
       CAST(MIN(s.cell_count) - p.exact_n AS BIGINT) AS overest
FROM probes p JOIN sketch s USING (depth_i, bucket)
GROUP BY p.token, p.exact_n
"""


@query("heavy_hitters_cms", oracle=_CMS_ORACLE, tags=("warehouse", "sketch"))
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation, measured against exact
    counts (the sketch analogue of minhash_estimation_error): build a
    {CMS_DEPTH}x{CMS_WIDTH}-cell sketch of the token stream in one
    pass, point-query it for the exact top-{CMS_TOP_K} tokens, and emit
    estimate + overestimate per token. est >= exact always (count-min
    error is one-sided collision mass); the pinned overestimates make
    hash/width regressions visible to the value hash. At 100 TB the
    sketch is STILL {CMS_DEPTH}*{CMS_WIDTH} cells — the single exchange
    aggregates to at most that many groups, map-side partials collapse
    the rest, and shard sketches merge by cell addition."""
    docs = load(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    # checkpoint: the tokenize/explode feeds the sketch, the exact
    # top-k, and (via exact) the probe/estimate join — otherwise the corpus
    # scan + explode re-runs per consumer
    toks = (
        docs.select(F.explode(T.tokens(F.lower(F.col("text")))).alias("token"))
    ).localCheckpoint(eager=True)
    sketch = W.cms_sketch(toks, "token", depth=CMS_DEPTH, width=CMS_WIDTH)
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), F.col("token").asc())
        .limit(CMS_TOP_K)
    )
    est = W.cms_estimate(sketch, exact, "token", depth=CMS_DEPTH, width=CMS_WIDTH)
    return exact.join(est, "token").select(
        "token",
        "exact_n",
        F.col("est_count").cast("bigint").alias("est_count"),
        (F.col("est_count") - F.col("exact_n")).cast("bigint").alias("overest"),
    )


# Box deliberately unaligned to block boundaries and selective in BOTH
# dims; 8 prefix bits -> 256 blocks, so a z-block is a 16x16 cell while
# a linear block is one exact x value spanning ALL of y — the layout
# whose envelopes bound the second dimension wins by construction.
ZBOX = (32, 95, 100, 163)
ZPREFIX_SHIFT = 8  # 16-bit key -> 256 key-prefix blocks


def _zorder_oracle() -> str:
    mort = W.morton_key_sql("x8", "y8", bits=8)
    x_lo, x_hi, y_lo, y_hi = ZBOX
    stats = """
    SELECT '{name}' AS layout,
           CAST(COUNT(*) AS BIGINT) AS blocks_total,
           CAST(SUM(CAST(max_x >= {x_lo} AND min_x <= {x_hi}
                     AND max_y >= {y_lo} AND min_y <= {y_hi} AS INT))
                AS BIGINT) AS blocks_touched,
           CAST(SUM(n_rows * CAST(max_x >= {x_lo} AND min_x <= {x_hi}
                     AND max_y >= {y_lo} AND min_y <= {y_hi} AS INT))
                AS BIGINT) AS rows_touched,
           CAST(SUM(n_rows) AS BIGINT) AS rows_total
    FROM (
        SELECT {block} AS block_id,
               MIN(x8) AS min_x, MAX(x8) AS max_x,
               MIN(y8) AS min_y, MAX(y8) AS max_y,
               COUNT(*) AS n_rows
        FROM keyed GROUP BY 1
    ) b
    """
    z = stats.format(
        name="zorder",
        block=f"({mort} >> {ZPREFIX_SHIFT})",
        x_lo=x_lo,
        x_hi=x_hi,
        y_lo=y_lo,
        y_hi=y_hi,
    )
    lin = stats.format(
        name="linear",
        block=f"(((x8 << 8) | y8) >> {ZPREFIX_SHIFT})",
        x_lo=x_lo,
        x_hi=x_hi,
        y_lo=y_lo,
        y_hi=y_hi,
    )
    return f"""
    WITH bounds AS (
        SELECT MAX(l_partkey) AS max_pk, MAX(l_suppkey) AS max_sk FROM lineitem
    ),
    keyed AS (
        SELECT CAST(FLOOR(l_partkey * 256.0 / (max_pk + 1)) AS BIGINT) AS x8,
               CAST(FLOOR(l_suppkey * 256.0 / (max_sk + 1)) AS BIGINT) AS y8
        FROM lineitem, bounds
    )
    {z}
    UNION ALL
    {lin}
    """


@query("zorder_block_skipping", oracle=_zorder_oracle(), tags=("warehouse", "layout"))
def zorder_block_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout vs single-key sort, measured as block-level data
    skipping: bucket (l_partkey, l_suppkey) to 8 bits each, derive each
    row's layout block under (a) Morton-interleaved order and (b)
    lexicographic (partkey-led) order — a block id is a layout-key
    prefix, the declarative stand-in for the parquet row group that
    ``repartitionByRange(key).sortWithinPartitions(key)`` would place
    the row in — then count how many blocks' min/max envelopes a 2-D
    box predicate intersects. Z-order blocks bound BOTH dimensions, so
    the box prunes most of them; linear blocks bound only the leading
    key, so a constraint on the second dimension skips almost nothing.
    The pinned rows_touched gap IS the measured I/O saving of Z-order
    at 100 TB; the measurement itself is two groupBys over a narrow
    projection of the fact table (key maxima are a 1-row bounded
    collect, the stats an engine would read from table metadata)."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    mx = li.agg(
        F.max("l_partkey").alias("pk"), F.max("l_suppkey").alias("sk")
    ).collect()[0]
    keyed = li.select(
        F.floor(F.col("l_partkey") * 256.0 / (mx["pk"] + 1)).alias("x8"),
        F.floor(F.col("l_suppkey") * 256.0 / (mx["sk"] + 1)).alias("y8"),
    )
    x_lo, x_hi, y_lo, y_hi = ZBOX
    mort = W.morton_key(F.col("x8"), F.col("y8"), bits=8)
    zstats = W.block_skipping_stats(
        keyed.withColumn("block_id", F.shiftright(mort, ZPREFIX_SHIFT)),
        "block_id",
        "x8",
        "y8",
        x_lo=x_lo,
        x_hi=x_hi,
        y_lo=y_lo,
        y_hi=y_hi,
        layout="zorder",
    )
    lin_key = F.shiftleft(F.col("x8"), 8).bitwiseOR(F.col("y8"))
    lstats = W.block_skipping_stats(
        keyed.withColumn("block_id", F.shiftright(lin_key, ZPREFIX_SHIFT)),
        "block_id",
        "x8",
        "y8",
        x_lo=x_lo,
        x_hi=x_hi,
        y_lo=y_lo,
        y_hi=y_hi,
        layout="linear",
    )
    return zstats.unionByName(lstats)


LINK_MAX_EDIT = 1
# Blocking key COMPOSES nation with a name prefix (all but the last
# LINK_PREFIX_DROP characters): prefix-group cardinality grows with the
# corpus, so block size stays bounded as the data scales — blocking on
# nation alone (25 values, forever) made the in-block self-join
# O(n^2/25), a 100x-scale killer (r8 verdict, What's wrong #1).
LINK_PREFIX_DROP = 2
# Skew guard (wired, not just documented): structurally a block holds at
# most 10^LINK_PREFIX_DROP names (those sharing every other character),
# so a 256-row cap can only fire on pathological input — where dropping
# the block is exactly the LSH-band-cap discipline. The oracle mirrors
# the uncapped semantics, which is identical while no block exceeds the
# cap; a capped block would be a correctness bug in the blocking design.
LINK_BLOCK_CAP = 256

_LINKAGE_ORACLE = f"""
WITH blocked AS (
    SELECT c_custkey, c_name, c_nationkey,
           c_nationkey || '|' ||
           substr(c_name, 1, length(c_name) - {LINK_PREFIX_DROP}) AS blk
    FROM customer
),
pairs AS (
    SELECT a.c_nationkey AS nation_key,
           LEVENSHTEIN(a.c_name, b.c_name) AS d
    FROM blocked a
    JOIN blocked b
      ON a.blk = b.blk AND a.c_custkey < b.c_custkey
)
SELECT nation_key,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN d <= {LINK_MAX_EDIT} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matches,
       CAST(MIN(CASE WHEN d <= {LINK_MAX_EDIT} THEN d END) AS BIGINT)
           AS min_match_distance
FROM pairs GROUP BY nation_key
"""


@query("record_linkage_blocked", oracle=_LINKAGE_ORACLE, tags=("warehouse", "dedup"))
def record_linkage_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage / entity resolution over customer records:
    candidate pairs form ONLY within a COMPOSED blocking key — nation x
    name prefix (all but the last {LINK_PREFIX_DROP} chars) — are
    emitted once (id_a < id_b), and score with thresholded Levenshtein
    (3-arg banded DP; -1 sentinel above the threshold). The per-nation
    candidate/match report is the dedup summary an MDM pipeline reviews
    (min_match_distance is NULL for nations with no match — raw
    distances above the threshold are never computed).

    Scale: block cardinality grows WITH the corpus (every
    10^{LINK_PREFIX_DROP} consecutive names form their own per-nation
    block), so the in-block self-join cost is sum |block|^2 with
    |block| bounded by construction; ``block_cap`` wires
    drop_oversized_groups as the skew guard for pathological keys. The
    r8 shape — blocking on nation alone — was O(n^2/25) and is the
    counterexample this query now documents."""
    # F.concat (NOT concat_ws, which skips nulls) mirrors the oracle's
    # null-propagating ||: a NULL name yields a NULL block key, which
    # equi-joins nowhere on either engine — identical pair sets on any
    # future corpus with null names
    cust = load(spark, sf_dir, "customer").withColumn(
        "__blk",
        F.concat(
            F.col("c_nationkey").cast("string"),
            F.lit("|"),
            F.expr(
                f"substring(c_name, 1, length(c_name) - {LINK_PREFIX_DROP})"
            ),
        ),
    )
    pairs = W.blocked_linkage_pairs(
        cust,
        id_col="c_custkey",
        name_col="c_name",
        block_col="__blk",
        max_edit_distance=LINK_MAX_EDIT,
        block_cap=LINK_BLOCK_CAP,
    )
    return (
        pairs.withColumn(
            "nation_key",
            F.substring_index(F.col("block_key"), "|", 1).cast("int"),
        )
        .groupBy("nation_key")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.sum("is_match").cast("bigint").alias("n_matches"),
            F.min(F.when(F.col("is_match") == 1, F.col("edit_distance")))
            .cast("bigint")
            .alias("min_match_distance"),
        )
    )


_DQ_ORACLE = """
WITH agg AS (
    SELECT
        CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS nn_cust,
        CAST(SUM(CASE WHEN o_orderdate IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS nn_date,
        CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS d_key,
        CAST(SUM(CASE WHEN o_orderstatus IN ('F','O','P') THEN 1 ELSE 0 END)
             AS BIGINT) AS ok_status,
        CAST(SUM(CASE WHEN o_totalprice >= 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS ok_price,
        CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
        CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
        CAST(COUNT(*) AS BIGINT) AS total
    FROM orders
)
SELECT 'completeness(o_custkey)' AS check_name,
       CAST(FLOOR(CAST(nn_cust AS DOUBLE) / total * 1000000 + 0.5) AS BIGINT)
           AS metric_x1e6,
       CAST(nn_cust = total AS INT) AS passed FROM agg
UNION ALL
SELECT 'completeness(o_orderdate)',
       CAST(FLOOR(CAST(nn_date AS DOUBLE) / total * 1000000 + 0.5) AS BIGINT),
       CAST(nn_date = total AS INT) FROM agg
UNION ALL
SELECT 'uniqueness(o_orderkey)',
       CAST(FLOOR(CAST(d_key AS DOUBLE) / total * 1000000 + 0.5) AS BIGINT),
       CAST(d_key = total AS INT) FROM agg
UNION ALL
SELECT 'values_in(o_orderstatus)',
       CAST(FLOOR(CAST(ok_status AS DOUBLE) / total * 1000000 + 0.5) AS BIGINT),
       CAST(ok_status = total AS INT) FROM agg
UNION ALL
SELECT 'non_negative(o_totalprice)',
       CAST(FLOOR(CAST(ok_price AS DOUBLE) / total * 1000000 + 0.5) AS BIGINT),
       CAST(ok_price = total AS INT) FROM agg
UNION ALL
SELECT 'min(o_totalprice)>=0',
       CAST(FLOOR(min_price * 1000000 + 0.5) AS BIGINT),
       CAST(min_price >= 0 AS INT) FROM agg
UNION ALL
SELECT 'row_count>=100',
       CAST(FLOOR(CAST(total AS DOUBLE) * 1000000 + 0.5) AS BIGINT),
       CAST(total >= 100 AS INT) FROM agg
UNION ALL
SELECT 'max(o_totalprice)<=100',
       CAST(FLOOR(max_price * 1000000 + 0.5) AS BIGINT),
       CAST(max_price <= 100 AS INT) FROM agg
"""


@query("dq_expectations_report", oracle=_DQ_ORACLE, tags=("warehouse", "validation"))
def dq_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality expectations over the orders table:
    eight constraints (completeness, key uniqueness, domain membership,
    sign, bounds, volume floor — one deliberately failing, so the
    report's failure path is itself pinned) verified in ONE aggregation — N
    constraints cost one scan regardless of N; the single result row is
    stack()-exploded in-plan into the (check_name, metric, passed)
    report. This is the generalized form of the reference's scattered
    per-check validations (X1-X6 run one pass per check); at 100 TB the
    difference between one scan and seven is the whole job. The
    COUNT(DISTINCT) constraint expands to the standard two-phase
    distinct aggregate alongside the plain partials."""
    from c3dc_etl_spark.operators import expectations as E

    orders = load(spark, sf_dir, "orders")
    return E.check(
        orders,
        [
            E.completeness("o_custkey"),
            E.completeness("o_orderdate"),
            E.uniqueness("o_orderkey"),
            E.values_in("o_orderstatus", ("F", "O", "P")),
            E.non_negative("o_totalprice"),
            E.min_bound("o_totalprice", 0.0),
            E.row_count_at_least(100),
            # deliberately failing: pins the passed=0 path of the report
            E.max_bound("o_totalprice", 100.0),
        ],
    )


# Cutoff for the incremental build: 2024-01-22T00:00:00Z — the event
# log spans 2024-01-01..01-30 at every sf, so base:delta is ~21:9 days.
SCD2_CUTOFF_US = 1_705_881_600_000_000


@query(
    "scd2_incremental_merge",
    oracle=_SCD2_ORACLE,
    tags=("warehouse", "window", "incremental"),
)
def scd2_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD Type-2 maintenance — the production shape where
    a nightly delta lands on an existing dimension: keys untouched by
    the delta keep their already-built rows verbatim (anti join);
    touched keys rebuild from their full history (semi join + the same
    build_scd2); the union is the updated dimension. The oracle is the
    FULL-log rebuild, so the value hash itself proves the incremental
    path is equivalent to recomputing from scratch (SCD2 is per-key
    decomposable — the property this query pins). At 100 TB the work is
    proportional to the histories of CHANGED entities, not the
    dimension: the anti/semi joins are keyed on the delta's
    entity set, which is broadcastable for any realistic nightly
    delta."""
    ev = load(spark, sf_dir, "events")
    base = ev.filter(F.col("ts_us") < SCD2_CUTOFF_US)
    delta_keys = (
        ev.filter(F.col("ts_us") >= SCD2_CUTOFF_US)
        .select("user_id")
        .distinct()
    )
    dim_base = W.build_scd2(
        base,
        key_col="user_id",
        ts_col="ts_us",
        tiebreak_col="event_id",
        attr_col="event_type",
    )
    untouched = dim_base.join(F.broadcast(delta_keys), "user_id", "left_anti")
    rebuilt = W.build_scd2(
        ev.join(F.broadcast(delta_keys), "user_id", "left_semi"),
        key_col="user_id",
        ts_col="ts_us",
        tiebreak_col="event_id",
        attr_col="event_type",
    )
    return untouched.unionByName(rebuilt).select(
        "user_id",
        "version",
        "event_type",
        F.col("eff_from").alias("eff_from_us"),
        F.col("eff_to").alias("eff_to_us"),
        "is_current",
    )


_AB_ORACLE = """
WITH agg AS (
    SELECT
        CAST(COUNT(*) FILTER (event_type = 'click') AS BIGINT) AS n_a,
        CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_b,
        CAST(SUM(CAST(value AS DECIMAL(18,6)))
             FILTER (event_type = 'click') AS DOUBLE) AS s_a,
        CAST(SUM(CAST(value AS DECIMAL(18,6)))
             FILTER (event_type = 'purchase') AS DOUBLE) AS s_b,
        CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
             FILTER (event_type = 'click') AS DOUBLE) AS q_a,
        CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)))
             FILTER (event_type = 'purchase') AS DOUBLE) AS q_b
    FROM events
)
SELECT n_a, n_b,
       ROUND(s_a / n_a, 6) AS mean_a,
       ROUND(s_b / n_b, 6) AS mean_b,
       ROUND((q_a - s_a * s_a / n_a) / (n_a - 1), 6) AS var_a,
       ROUND((q_b - s_b * s_b / n_b) / (n_b - 1), 6) AS var_b,
       ROUND((s_a / n_a - s_b / n_b)
             / SQRT(((q_a - s_a * s_a / n_a) / (n_a - 1)) / n_a
                    + ((q_b - s_b * s_b / n_b) / (n_b - 1)) / n_b), 6)
           AS welch_t
FROM agg
"""


@query("ab_test_stats", oracle=_AB_ORACLE, tags=("warehouse", "measurement"))
def ab_test_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample experiment analysis (Welch's t): per-arm n / mean /
    variance and the t statistic between the click and purchase arms'
    value metric, in ONE conditional-aggregation pass — both arms'
    count, sum, and sum-of-squares are FILTER'd aggregates sharing a
    single scan and a single-row exchange, the shape an experimentation
    platform runs per metric x arm at any scale. Sums and
    sums-of-squares ride DECIMAL (exact, order-independent); every
    downstream double op is the same expression tree in both engines,
    so even the derived statistic hashes identically."""
    ev = load(spark, sf_dir, "events")
    v = dec("value", 6)
    stats = {}
    for arm, label in (("click", "a"), ("purchase", "b")):
        cond = F.col("event_type") == arm
        # count(when), not sum(cast): an empty arm must count 0, not
        # NULL, to match the oracle's COUNT(*) FILTER
        stats[f"n_{label}"] = F.count(F.when(cond, 1)).cast("bigint")
        stats[f"s_{label}"] = F.sum(F.when(cond, v)).cast("double")
        stats[f"q_{label}"] = F.sum(F.when(cond, v * v)).cast("double")
    agg = ev.agg(*[c.alias(k) for k, c in stats.items()])
    n_a, n_b = F.col("n_a"), F.col("n_b")
    s_a, s_b = F.col("s_a"), F.col("s_b")
    q_a, q_b = F.col("q_a"), F.col("q_b")
    var_a = (q_a - s_a * s_a / n_a) / (n_a - 1)
    var_b = (q_b - s_b * s_b / n_b) / (n_b - 1)
    return agg.select(
        "n_a",
        "n_b",
        F.round(s_a / n_a, 6).alias("mean_a"),
        F.round(s_b / n_b, 6).alias("mean_b"),
        F.round(var_a, 6).alias("var_a"),
        F.round(var_b, 6).alias("var_b"),
        F.round(
            (s_a / n_a - s_b / n_b) / F.sqrt(var_a / n_a + var_b / n_b), 6
        ).alias("welch_t"),
    )


SKEW_REDUCERS = 32
SKEW_SALTS = 8

_SKEW_KEYED = f"""
keyed AS (
    SELECT lang,
           CAST(CONCAT('0x', SUBSTR(MD5('red' || ':' || lang), 1, 8))
                AS BIGINT) % {SKEW_REDUCERS} AS plain_bucket,
           CAST(CONCAT('0x', SUBSTR(MD5('red' || ':' || lang || ':' ||
                CAST(CAST(CONCAT('0x', SUBSTR(MD5('salt' || ':' ||
                     CAST(doc_id AS STRING)), 1, 8)) AS BIGINT)
                     % {SKEW_SALTS} AS STRING)), 1, 8))
                AS BIGINT) % {SKEW_REDUCERS} AS salted_bucket
    FROM documents
)"""

_SKEW_STAT = """
    SELECT '{name}' AS strategy,
           CAST(COUNT(*) AS BIGINT) AS reducers_used,
           CAST(MAX(cnt) AS BIGINT) AS max_rows,
           CAST(FLOOR(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) * 1000000 + 0.5)
                AS BIGINT) AS max_share_x1e6
    FROM (SELECT {bucket} AS b, COUNT(*) AS cnt FROM keyed GROUP BY 1) t
"""

_SKEW_ORACLE = (
    "WITH " + _SKEW_KEYED + "\n"
    + _SKEW_STAT.format(name="unsalted", bucket="plain_bucket")
    + "UNION ALL\n"
    + _SKEW_STAT.format(name="salted", bucket="salted_bucket")
)


@query("skew_salt_balance", oracle=_SKEW_ORACLE, tags=("warehouse", "measurement"))
def skew_salt_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reducer-load balance under key skew, measured: hash the skewed
    language key (en is ~44% of documents) onto {SKEW_REDUCERS}
    simulated reducers directly vs through an {SKEW_SALTS}-way salt,
    and report each strategy's occupied-reducer count and
    max-reducer share — the arithmetic behind every salting decision in
    the dedup/top-k operators (operators/skew.py), pinned as data so a
    salting regression moves a number instead of an opinion. Unsalted,
    one reducer carries the hot key's full share; salted, the hot key
    spreads across {SKEW_SALTS} reducers and the partial-agg recombine
    handles the tiny (key, salt) table. Both hashes are the engine-
    independent md5 fold, so the oracle reproduces the exact bucket
    assignment."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    salt = W.hash_bucket(
        F.col("doc_id").cast("string"), "salt", SKEW_SALTS
    ).cast("string")
    keyed = docs.select(
        W.hash_bucket(F.col("lang"), "red", SKEW_REDUCERS).alias("plain_bucket"),
        W.hash_bucket(
            F.concat_ws(":", F.col("lang"), salt), "red", SKEW_REDUCERS
        ).alias("salted_bucket"),
    )

    def stat(bucket: str, name: str) -> DataFrame:
        per = keyed.groupBy(bucket).agg(F.count(F.lit(1)).alias("cnt"))
        return per.agg(
            F.lit(name).alias("strategy"),
            F.count(F.lit(1)).cast("bigint").alias("reducers_used"),
            F.max("cnt").cast("bigint").alias("max_rows"),
            F.floor(
                F.max("cnt").cast("double") / F.sum("cnt") * 1_000_000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("max_share_x1e6"),
        )

    return stat("plain_bucket", "unsalted").unionByName(
        stat("salted_bucket", "salted")
    )


_SCD2_PIT_ORACLE = """
WITH ev AS (
    SELECT user_id, event_id, EPOCH_US(ts) AS ts_us, event_type FROM events
),
marked AS (
    SELECT user_id, event_id, ts_us, event_type,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id) AS prev,
           LAG(1) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id) AS has_prev
    FROM ev
),
changes AS (
    -- null-safe change detection, mirroring build_scd2: a NULL attr
    -- period is a real version (IS DISTINCT FROM, never <>), and the
    -- lag'd constant marks the true first row even under a NULL attr
    SELECT user_id, event_id, ts_us, event_type FROM marked
    WHERE has_prev IS NULL OR prev IS DISTINCT FROM event_type
),
dim AS (
    SELECT user_id,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
           event_type AS attr,
           ts_us AS eff_from_us,
           LEAD(ts_us) OVER w AS eff_to_us
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
)
SELECT e.event_id, e.user_id, e.ts_us, d.version,
       d.attr AS attr_at_time
FROM ev e
JOIN dim d
  ON e.user_id = d.user_id
 AND e.ts_us >= d.eff_from_us
 AND (d.eff_to_us IS NULL OR e.ts_us < d.eff_to_us)
"""


@query(
    "scd2_point_in_time_join",
    oracle=_SCD2_PIT_ORACLE,
    tags=("warehouse", "temporal", "join"),
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup — THE warehouse temporal join:
    every event resolves the SCD2 version valid at its timestamp
    (equi-join on the entity key with the half-open validity range as
    the residual predicate). Because versions tile exactly (T78's
    pinned invariant), each event matches EXACTLY one version — the
    output row count equals the event count, which the oracle's
    identical join re-derives. Scale shape: a shuffle hash join on
    user_id whose residual compares each event against only its own
    entity's versions (per-entity history, not a global range join) —
    linear in events + versions, the reason point-in-time lookups key
    on the entity and never on time alone."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts_us", "event_type"
    )
    dim = W.build_scd2(
        ev,
        key_col="user_id",
        ts_col="ts_us",
        tiebreak_col="event_id",
        attr_col="event_type",
    ).select(
        F.col("user_id").alias("d_user"),
        "version",
        F.col("event_type").alias("attr_at_time"),
        "eff_from",
        "eff_to",
    )
    return (
        ev.join(
            dim,
            (ev.user_id == dim.d_user)
            & (ev.ts_us >= dim.eff_from)
            & (dim.eff_to.isNull() | (ev.ts_us < dim.eff_to)),
        )
        .select("event_id", "user_id", "ts_us", "version", "attr_at_time")
    )


# --------------------------------------------------------------------------
# T139: incremental view maintenance (bilinear delta rule, both sides)
# --------------------------------------------------------------------------

_IVM_ORACLE = """
WITH o1 AS (
    SELECT o_custkey AS c_custkey, STRFTIME(o_orderdate, '%Y-%m') AS month,
           o_totalprice AS price
    FROM orders WHERE o_orderkey % 20 <> 0
    UNION ALL
    SELECT o_custkey, STRFTIME(o_orderdate, '%Y-%m'), o_totalprice + 10.0
    FROM orders WHERE o_orderkey % 20 = 1
),
c1 AS (
    SELECT c_custkey,
           CASE WHEN c_custkey % 25 = 3 THEN (c_nationkey + 7) % 25
                ELSE c_nationkey END AS c_nationkey
    FROM customer
)
SELECT n_name, month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM o1 JOIN c1 USING (c_custkey)
JOIN nation ON n_nationkey = c_nationkey
GROUP BY n_name, month
"""


@query(
    "view_incremental_maintenance",
    oracle=_IVM_ORACLE,
    tags=("warehouse", "incremental"),
)
def view_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained monthly-revenue-by-nation view under a
    mixed delta batch touching BOTH join sides: order deletions
    (o_orderkey % 20 = 0), re-keyed order insertions with a price bump
    (% 20 = 1), and customer nation reassignments (c_custkey % 25 = 3,
    expressed as a -1/+1 retraction pair). The Spark side runs the
    bilinear IVM rule — ΔF⋈D0 + F0⋈ΔD + ΔF⋈ΔD with multiplying signs,
    merged into the stored base aggregate, zero-count groups retracted
    (operators.warehouse.delta_join_agg_view); the oracle recomputes
    the view directly from the UPDATED tables, so the hash match IS the
    proof that incremental maintenance equals full recomputation. The
    delta terms read only pushed-filter |Δ|-sized scans; the fact table
    is never rescanned for maintenance — the O(|Δ|) shape that makes a
    100 TB materialized view refreshable per-batch."""
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.col("o_totalprice").alias("price"),
    )
    fact0 = orders.select("c_custkey", "month", "price")
    dfact = (
        orders.filter(F.col("o_orderkey") % 20 == 0)
        .select("c_custkey", "month", "price", F.lit(-1).alias("__sign"))
        .unionByName(
            orders.filter(F.col("o_orderkey") % 20 == 1).select(
                "c_custkey",
                "month",
                (F.col("price") + F.lit(10.0)).alias("price"),
                F.lit(1).alias("__sign"),
            )
        )
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    moved = cust.filter(F.col("c_custkey") % 25 == 3)
    ddim = moved.select(
        "c_custkey", "c_nationkey", F.lit(-1).alias("__sign")
    ).unionByName(
        moved.select(
            "c_custkey",
            ((F.col("c_nationkey") + 7) % 25).alias("c_nationkey"),
            F.lit(1).alias("__sign"),
        )
    )
    view = W.delta_join_agg_view(
        fact0,
        dfact,
        cust,
        ddim,
        "c_custkey",
        ["c_nationkey", "month"],
        dec("price"),
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        view.join(
            F.broadcast(nation),
            view["c_nationkey"] == nation["n_nationkey"],
        )
        .select(
            "n_name",
            "month",
            F.col("n_rows").alias("n_orders"),
            F.col("measure_sum").cast("double").alias("revenue"),
        )
    )
