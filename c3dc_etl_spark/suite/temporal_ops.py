"""Event-stream temporal operators over the events table: as-of join
and gap sessionization. Neither exists as a Spark builtin — both are
expressed as single-shuffle window compositions (the scale-correct
form; an inequality range join would be O(n^2) per user), mirrored
exactly in DuckDB window SQL.

ts semantics: the events table stores TIMESTAMP(NANOS); both engines
work on epoch microseconds (``ts_us`` / EPOCH_US) — integer arithmetic,
timezone- and engine-independent (see suite.registry.load).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from c3dc_etl_spark.suite.registry import day_bucket, dec, dsum, load, query

# --------------------------------------------------------------------------
# As-of join: each purchase -> most recent strictly-prior click, per user
# --------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH ev AS (
    SELECT event_id, user_id, EPOCH_US(ts) AS ts_us, event_type
    FROM events
),
attached AS (
    SELECT event_id, user_id, ts_us, event_type,
           LAST_VALUE(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
               OVER w AS click_ts_us,
           LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
               OVER w AS click_event_id
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, ts_us, click_event_id, click_ts_us,
       ts_us - click_ts_us AS gap_us
FROM attached
WHERE event_type = 'purchase'
"""


@query("asof_join_events", oracle=_ASOF_ORACLE, tags=("temporal", "join"))
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (point-in-time lookup): every purchase event gets the
    most recent strictly-earlier click by the same user. Implemented as
    ONE window pass over the union of both event kinds — last-non-null
    over (user, time) ordering — instead of an inequality join: a range
    join is O(clicks x purchases) per user and unshippable at scale,
    while this form is one hash exchange on user_id plus an in-partition
    sort, immune to per-user volume (ties broken by event_id for
    determinism; both attached columns come from the same window row
    because they null out on exactly the same rows)."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts_us", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_click = F.col("event_type") == "click"
    attached = ev.select(
        "event_id",
        "user_id",
        "ts_us",
        "event_type",
        F.last(F.when(is_click, F.col("ts_us")), ignorenulls=True)
        .over(w)
        .alias("click_ts_us"),
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("click_event_id"),
    )
    return attached.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts_us",
        "click_event_id",
        "click_ts_us",
        (F.col("ts_us") - F.col("click_ts_us")).alias("gap_us"),
    )


# --------------------------------------------------------------------------
# Gap sessionization
# --------------------------------------------------------------------------

SESSION_GAP_US = 4 * 3600 * 1_000_000  # 4 hours

_SESSION_ORACLE = f"""
WITH ev AS (
    SELECT event_id, user_id, EPOCH_US(ts) AS ts_us, event_type, value
    FROM events
),
marked AS (
    SELECT *,
           CASE WHEN ts_us - LAG(ts_us) OVER w > {SESSION_GAP_US}
                  OR LAG(ts_us) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sessioned AS (
    SELECT *,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_ord
    FROM marked
)
SELECT user_id,
       CAST(session_ord AS BIGINT) AS session_ord,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts_us) AS start_ts_us,
       MAX(ts_us) AS end_ts_us,
       MAX(ts_us) - MIN(ts_us) AS duration_us,
       CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
           AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM sessioned
GROUP BY user_id, session_ord
"""


@query("sessionize_events", oracle=_SESSION_ORACLE, tags=("temporal", "window"))
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts after >4h of
    user inactivity; sessions are summarized (event count, span,
    purchases, exact-decimal value sum). The classic two-window
    composition — lag to mark boundaries, running sum to number
    sessions — followed by a groupBy that REUSES the window's
    hash(user_id) partitioning (grouping keys extend the partition
    key), so the whole operator is one exchange at any scale."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts_us", "event_type", "value"
    )
    wo = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    lag_ts = F.lag("ts_us").over(wo)
    marked = ev.withColumn(
        "new_session",
        F.when(
            lag_ts.isNull() | ((F.col("ts_us") - lag_ts) > SESSION_GAP_US), 1
        ).otherwise(0),
    )
    sessioned = marked.withColumn(
        "session_ord",
        F.sum("new_session")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"),
    )
    return sessioned.groupBy("user_id", "session_ord").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("start_ts_us"),
        F.max("ts_us").alias("end_ts_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        dsum("value").alias("total_value"),
    )


_RANGE_WINDOW_US = 2 * 3600 * 1_000_000  # 2 hours
_RANGE_BUCKET_US = 3600 * 1_000_000      # 1 hour quantum

_RANGE_JOIN_ORACLE = f"""
WITH sign AS (
    SELECT event_id AS signup_id, EPOCH_US(ts) AS s_us,
           EPOCH_US(ts) + {_RANGE_WINDOW_US} AS e_us
    FROM events WHERE event_type = 'signup'
),
buy AS (
    SELECT event_id AS purchase_id, EPOCH_US(ts) AS p_us
    FROM events WHERE event_type = 'purchase'
)
SELECT s.signup_id, b.purchase_id,
       b.p_us - s.s_us AS delta_us
FROM sign s JOIN buy b ON b.p_us BETWEEN s.s_us AND s.e_us
"""


@query("range_join_events", oracle=_RANGE_JOIN_ORACLE, tags=("temporal", "join"))
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join with NO equality key (every purchase
    inside the 2h window after ANY signup) through
    operators.ranges.range_join: intervals explode to their covered
    1h buckets, probes tag their single bucket, and the bucket
    equi-join + exact range filter replaces the
    BroadcastNestedLoopJoin Spark would otherwise plan — candidate
    cost O(n * span/bucket), shuffle-joinable at any scale. The oracle
    is the plain inequality join (DuckDB IEJoin)."""
    from c3dc_etl_spark.operators.ranges import range_join

    ev = load(spark, sf_dir, "events")
    sign = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("ts_us").alias("s_us"),
        (F.col("ts_us") + F.lit(_RANGE_WINDOW_US)).alias("e_us"),
    )
    buy = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts_us").alias("p_us"),
    )
    joined = range_join(
        sign, buy,
        start_col="s_us", end_col="e_us", ts_col="p_us",
        bucket=_RANGE_BUCKET_US,
    )
    return joined.select(
        "signup_id",
        "purchase_id",
        (F.col("p_us") - F.col("s_us")).alias("delta_us"),
    )


_OVL_L_SPAN_US = 2 * 3600 * 1_000_000   # signup window: 2 hours
_OVL_R_SPAN_US = 3600 * 1_000_000       # error window: 1 hour

_OVERLAP_ORACLE = f"""
WITH sgn AS (
    SELECT event_id AS signup_id, EPOCH_US(ts) AS ls,
           EPOCH_US(ts) + {_OVL_L_SPAN_US} AS le
    FROM events WHERE event_type = 'signup'
),
err AS (
    SELECT event_id AS error_id, EPOCH_US(ts) AS rs,
           EPOCH_US(ts) + {_OVL_R_SPAN_US} AS re
    FROM events WHERE event_type = 'error'
)
SELECT s.signup_id,
       CAST(COUNT(e.error_id) AS BIGINT) AS n_overlaps,
       MIN(e.rs - s.ls) AS min_delta_us
FROM sgn s LEFT JOIN err e ON s.ls <= e.re AND e.rs <= s.le
GROUP BY s.signup_id
"""


@query("interval_overlap_events", oracle=_OVERLAP_ORACLE, tags=("temporal", "join"))
def interval_overlap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (both sides are intervals, no equality key)
    through operators.ranges.interval_overlap_join: each signup's 2h
    window against each error's 1h window. Both sides explode to 1h
    buckets; the bucket equi-join + single-bucket pair attribution
    (max of the start buckets) emits each overlapping pair exactly once
    with NO pair-level distinct — a shuffle hash join where the naive
    two-inequality join plans a BroadcastNestedLoopJoin. Reduced per
    signup (count + earliest error offset) so the gate's collect stays
    narrow; signups with no overlapping error keep a row via the
    left join against the interval base. The oracle is DuckDB's native
    inequality join (IEJoin)."""
    from c3dc_etl_spark.operators.ranges import interval_overlap_join

    ev = load(spark, sf_dir, "events")
    sgn = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("ts_us").alias("ls"),
        (F.col("ts_us") + F.lit(_OVL_L_SPAN_US)).alias("le"),
    )
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("ts_us").alias("rs"),
        (F.col("ts_us") + F.lit(_OVL_R_SPAN_US)).alias("re"),
    )
    pairs = interval_overlap_join(
        sgn, err,
        l_start="ls", l_end="le", r_start="rs", r_end="re",
        bucket=_RANGE_BUCKET_US,
    )
    per_signup = pairs.groupBy("signup_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlaps"),
        F.min(F.col("rs") - F.col("ls")).alias("min_delta_us"),
    )
    return (
        sgn.select("signup_id")
        .join(per_signup, "signup_id", "left")
        .select(
            "signup_id",
            F.coalesce("n_overlaps", F.lit(0)).cast("bigint").alias("n_overlaps"),
            "min_delta_us",
        )
    )


_HOUR_US = 3600 * 1_000_000
_DAY_HOURS = 24

_ROLLUP_ORACLE = f"""
SELECT event_type,
       (EPOCH_US(ts) // {_HOUR_US}) // {_DAY_HOURS} AS day_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MIN(EPOCH_US(ts)) AS first_ts_us,
       MAX(EPOCH_US(ts)) AS last_ts_us
FROM events
GROUP BY 1, 2
"""


@query("rollup_hypertable", oracle=_ROLLUP_ORACLE, tags=("temporal", "rollup"))
def rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: raw events aggregate to
    HOURLY partials (count / exact-decimal sum / min / max), and the
    DAILY level re-aggregates the hourly partials — never rescanning
    raw data. The oracle computes the daily level directly from raw, so
    the hash proves the re-aggregation algebra (sum-of-sums,
    min-of-mins) is lossless. This is the continuous-aggregate shape a
    100 TB time-series store maintains: each level is ~1/N the size of
    the one below, and late data touches one hourly bucket, not a day.
    Integer epoch division makes hour->day nesting exact (hour // 24 ==
    day for positive epochs)."""
    ev = load(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.floor(F.col("ts_us") / _HOUR_US).alias("hour_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).alias("sv"),  # stays exact DECIMAL
            F.min("ts_us").alias("mn"),
            F.max("ts_us").alias("mx"),
        )
    )
    daily = (
        hourly.groupBy(
            "event_type",
            F.floor(F.col("hour_bucket") / _DAY_HOURS).alias("day_bucket"),
        )
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("sv").cast("double").alias("sum_value"),
            F.min("mn").alias("first_ts_us"),
            F.max("mx").alias("last_ts_us"),
        )
    )
    return daily


_MERGE_MOD = 5  # event_id % 5 == 0 -> "delta snapshot" (20%)

_MERGE_PARTIALS_ORACLE = f"""
SELECT event_type,
       (EPOCH_US(ts) // {_HOUR_US}) // {_DAY_HOURS} AS day_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MIN(EPOCH_US(ts)) AS first_ts_us,
       MAX(EPOCH_US(ts)) AS last_ts_us
FROM events
GROUP BY 1, 2
"""


@query(
    "rollup_merge_partials",
    oracle=_MERGE_PARTIALS_ORACLE,
    tags=("temporal", "rollup"),
)
def rollup_merge_partials(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the corpus is split
    into a BASE snapshot and a DELTA (event_id % 5 == 0, the 20%
    'newly arrived' slice), each side computes its own daily partials
    independently, and the stored view updates by RE-AGGREGATING THE
    PARTIALS — count/sum/min/max are algebraic, so merge(sums) ==
    recompute, proven by the oracle's direct full aggregation. At
    100 TB this is how a continuous aggregate absorbs a day of new
    data: touch the delta's buckets, never rescan history. Exact
    DECIMAL sums make the merge bit-lossless (double partial sums
    would drift under re-association)."""
    ev = load(spark, sf_dir, "events")

    def partials(side: DataFrame) -> DataFrame:
        return side.groupBy(
            "event_type",
            (F.floor(F.col("ts_us") / _HOUR_US) / _DAY_HOURS).cast("long")
            .alias("day_bucket"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).alias("sv"),
            F.min("ts_us").alias("mn"),
            F.max("ts_us").alias("mx"),
        )

    base = partials(ev.filter(F.col("event_id") % _MERGE_MOD != 0))
    delta = partials(ev.filter(F.col("event_id") % _MERGE_MOD == 0))
    return (
        base.unionByName(delta)
        .groupBy("event_type", "day_bucket")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("sv").cast("double").alias("sum_value"),
            F.min("mn").alias("first_ts_us"),
            F.max("mx").alias("last_ts_us"),
        )
    )


# --------------------------------------------------------------------------
# Trailing-window rolling stats: RANGE frame over event time
# --------------------------------------------------------------------------

HOUR_US = 3_600_000_000

_ROLLING_ORACLE = f"""
WITH ev AS (
    SELECT event_id, user_id, EPOCH_US(ts) AS ts_us,
           CAST(value AS DECIMAL(18,4)) AS v
    FROM events
)
SELECT event_id, user_id, ts_us,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       CAST(SUM(v) OVER w AS DOUBLE) AS sum_1h
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN {HOUR_US - 1} PRECEDING AND CURRENT ROW)
"""


@query("rolling_time_stats", oracle=_ROLLING_ORACLE, tags=("temporal", "window"))
def rolling_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing one-hour rolling aggregates per user via a RANGE window
    frame over event time — the frame is defined by the ORDER-BY VALUE
    (microseconds), not row offsets, so equal-timestamp peers enter the
    frame together in both engines and bursty users get honest
    per-wall-clock stats. One exchange on user_id; the in-partition
    frame scan is incremental (Spark's sliding aggregation evicts as
    the lower bound advances, never recomputing the frame). Values ride
    DECIMAL inside the frame sum for order-independent exactness
    (registry rule 1)."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts_us", dec("value", 4).alias("v")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-(HOUR_US - 1), Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_1h"),
        F.sum("v").over(w).cast("double").alias("sum_1h"),
    )


# --------------------------------------------------------------------------
# Funnel conversion: view -> click -> purchase within a horizon
# --------------------------------------------------------------------------

FUNNEL_HORIZON_US = 24 * HOUR_US

_FUNNEL_ORACLE = f"""
WITH ev AS (
    SELECT user_id, EPOCH_US(ts) AS ts_us, event_type FROM events
),
v AS (
    SELECT user_id, MIN(ts_us) AS view_ts_us
    FROM ev WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(e.ts_us) AS click_ts_us
    FROM ev e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click'
      AND e.ts_us > v.view_ts_us
      AND e.ts_us <= v.view_ts_us + {FUNNEL_HORIZON_US}
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts_us) AS purchase_ts_us
    FROM ev e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase'
      AND e.ts_us > c.click_ts_us
      AND e.ts_us <= c.click_ts_us + {FUNNEL_HORIZON_US}
    GROUP BY e.user_id
)
SELECT v.user_id, v.view_ts_us, c.click_ts_us, p.purchase_ts_us,
       CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                 WHEN c.user_id IS NOT NULL THEN 2
                 ELSE 1 END AS INT) AS stage_reached
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON c.user_id = p.user_id
"""


@query("funnel_conversion", oracle=_FUNNEL_ORACLE, tags=("temporal", "funnel"))
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (view -> click -> purchase, each stage
    within 24h of the one before): per user, the earliest view anchors
    the funnel, the earliest qualifying click anchors stage 2, the
    earliest qualifying purchase completes it. Each stage is a filtered
    slice aggregated to one row per user (map-side partial MIN) joined
    to the previous stage's anchor — three shuffles on the SAME key, so
    AQE plans them as one co-partitioned chain, and every join input is
    user-cardinality, never event-cardinality. The per-user stage table
    (not just totals) is the output: it joins back to cohorts/splits
    downstream, and the value hash pins every anchor timestamp."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts_us", "event_type")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("view_ts_us"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts_us") > F.col("view_ts_us"))
            & (F.col("ts_us") <= F.col("view_ts_us") + FUNNEL_HORIZON_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("click_ts_us"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts_us") > F.col("click_ts_us"))
            & (F.col("ts_us") <= F.col("click_ts_us") + FUNNEL_HORIZON_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("purchase_ts_us"))
    )
    stage = (
        F.when(F.col("purchase_ts_us").isNotNull(), 3)
        .when(F.col("click_ts_us").isNotNull(), 2)
        .otherwise(1)
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "view_ts_us",
            "click_ts_us",
            "purchase_ts_us",
            stage.cast("int").alias("stage_reached"),
        )
    )


# --------------------------------------------------------------------------
# Cohort retention: users cohorted by first-activity day
# --------------------------------------------------------------------------

DAY_US = 86_400_000_000

_COHORT_ORACLE = f"""
WITH ev AS (
    SELECT user_id, EPOCH_US(ts) // {DAY_US} AS day FROM events
),
first_day AS (
    SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id
),
activity AS (
    SELECT DISTINCT user_id, day FROM ev
),
cohort_size AS (
    SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_cohort
    FROM first_day GROUP BY cohort_day
),
cells AS (
    SELECT f.cohort_day, a.day - f.cohort_day AS offset_days,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM activity a JOIN first_day f ON a.user_id = f.user_id
    GROUP BY f.cohort_day, a.day - f.cohort_day
)
SELECT c.cohort_day, c.offset_days, c.n_active, s.n_cohort,
       CAST(FLOOR(CAST(c.n_active AS DOUBLE) / s.n_cohort * 1000000 + 0.5)
            AS BIGINT) AS retained_x1e6
FROM cells c JOIN cohort_size s ON c.cohort_day = s.cohort_day
"""


@query("cohort_retention", oracle=_COHORT_ORACLE, tags=("temporal", "cohort"))
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users cohort by first-activity day, and
    each (cohort, day-offset) cell counts how many of them were active
    that day, with the retention ratio in exact fixed-point. The
    activity DISTINCT, the first-day MIN, and the cell aggregate all
    key on user_id or (cohort, offset) — partial aggregation collapses
    the event volume map-side, the user-keyed join is
    dimension-against-dimension (one row per user on both sides), and
    the tiny cohort-size table broadcasts. At 100 TB the only
    event-volume shuffle is the per-(user, day) distinct, which is the
    minimum information retention needs."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.expr(f"ts_us div {DAY_US}").alias("day")
    )
    first_day = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = ev.distinct()
    cohort_size = first_day.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    cells = (
        activity.join(first_day, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("offset_days")
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return cells.join(F.broadcast(cohort_size), "cohort_day").select(
        "cohort_day",
        "offset_days",
        "n_active",
        "n_cohort",
        F.floor(
            F.col("n_active").cast("double") / F.col("n_cohort") * 1_000_000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("retained_x1e6"),
    )


# --------------------------------------------------------------------------
# Time-series gap fill: dense per-user daily series with LOCF
# --------------------------------------------------------------------------

_GAPFILL_ORACLE = f"""
WITH ev AS (
    SELECT user_id, EPOCH_US(ts) // {DAY_US} AS day,
           CAST(value AS DECIMAL(18,4)) AS v
    FROM events
),
daily AS (
    SELECT user_id, day, CAST(SUM(v) AS DOUBLE) AS day_value
    FROM ev GROUP BY user_id, day
),
spans AS (
    SELECT user_id, MIN(day) AS mn, MAX(day) AS mx FROM daily GROUP BY user_id
),
dense AS (
    SELECT user_id, UNNEST(GENERATE_SERIES(mn, mx)) AS day FROM spans
)
SELECT d.user_id, d.day,
       CAST(dl.day IS NOT NULL AS INT) AS observed,
       LAST_VALUE(dl.day_value IGNORE NULLS) OVER (
           PARTITION BY d.user_id ORDER BY d.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
FROM dense d
LEFT JOIN daily dl ON d.user_id = dl.user_id AND d.day = dl.day
"""


@query("timeseries_gap_fill", oracle=_GAPFILL_ORACLE, tags=("temporal", "window"))
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user daily series with last-observation-carried-forward
    fill: aggregate events to (user, day) totals, explode each user's
    [first, last] day span into a dense calendar, left-join the
    observations back, and LOCF via last-non-null over (user, day).
    Day totals ride DECIMAL (exact) before the double conversion. The
    calendar explode is bounded by each user's own span (the corpus
    horizon), and the fill window shares the gap-join's user_id
    partitioning — one exchange serves both. This is the
    missing-reading densification every sensor/feature pipeline runs
    before windowed model features."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"ts_us div {DAY_US}").alias("day"),
        dec("value", 4).alias("v"),
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.sum("v").cast("double").alias("day_value")
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("mn"), F.max("day").alias("mx")
    )
    dense = spans.select(
        "user_id", F.explode(F.sequence("mn", "mx")).alias("day")
    )
    # alias BOTH observation keys: dense derives from daily, so a bare
    # daily.user_id reference shares dense's expression id (self-join
    # ambiguity) — fresh aliases make the join condition unambiguous
    obs = daily.select(
        F.col("user_id").alias("obs_user"),
        F.col("day").alias("obs_day"),
        "day_value",
    )
    joined = dense.join(
        obs,
        (dense.user_id == obs.obs_user) & (dense.day == obs.obs_day),
        "left",
    ).select(dense.user_id, dense.day, "obs_day", "day_value")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.col("obs_day").isNotNull().cast("int").alias("observed"),
        F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
    )


# --------------------------------------------------------------------------
# Event debounce: drop rapid repeats of the same (user, type)
# --------------------------------------------------------------------------

DEBOUNCE_US = 60_000_000  # 60 s

_DEBOUNCE_ORACLE = f"""
WITH ev AS (
    SELECT event_id, user_id, EPOCH_US(ts) AS ts_us, event_type FROM events
),
lagged AS (
    SELECT event_id, user_id, ts_us, event_type,
           LAG(ts_us) OVER (PARTITION BY user_id, event_type
                            ORDER BY ts_us, event_id) AS prev_ts
    FROM ev
)
SELECT event_id, user_id, ts_us, event_type
FROM lagged
WHERE prev_ts IS NULL OR ts_us - prev_ts > {DEBOUNCE_US}
"""


@query("event_debounce", oracle=_DEBOUNCE_ORACLE, tags=("temporal", "filter"))
def event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce: within each (user, event_type) stream, drop
    any event arriving within {DEBOUNCE_US}us of the PREVIOUS KEPT-OR-
    DROPPED event — the standard LAG-gap filter that collapses UI
    double-fires and retry storms before sessionization. (Gap-to-
    predecessor, not gap-to-last-kept: the two differ on bursts longer
    than the window, and the LAG form is the one expressible without
    per-row state.) One exchange on (user_id, event_type); ties broken
    by event_id so the kept set is deterministic."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts_us", "event_type"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    return (
        ev.withColumn("prev_ts", F.lag("ts_us").over(w))
        .filter(
            F.col("prev_ts").isNull()
            | (F.col("ts_us") - F.col("prev_ts") > DEBOUNCE_US)
        )
        .drop("prev_ts")
    )


_TRANSITION_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY EPOCH_US(ts), event_id)
               AS next_type
    FROM events
),
t AS (
    SELECT event_type AS from_type, next_type AS to_type,
           COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       ROUND(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6)
           + 0.0 AS prob
FROM t
"""


@query("event_transition_matrix", oracle=_TRANSITION_ORACLE, tags=("temporal",))
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: LEAD over the (ts, event_id)-ordered per-user stream
    pairs each event with its successor, one map-side-combined groupBy
    counts (from, to) transitions, and row-normalized probabilities
    come from a per-from window over the TINY |types|^2 transition
    table — never the event stream. One user-keyed exchange for the
    sequence window, one for the count; at 100 TB the second input is
    |types|^2 rows. The standard next-event model / journey-analysis
    statistic."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts_us")
    seq = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc()
    )
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(seq))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_from = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        (
            F.round(
                F.col("n").cast("double")
                / F.sum("n").over(per_from).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("prob"),
    )


_CUSUM_ORACLE = """
WITH daily AS (
    SELECT EPOCH_US(ts) // 86400000000 AS day, COUNT(*) AS c
    FROM events GROUP BY 1
),
seq AS (
    SELECT day, c,
           ROW_NUMBER() OVER (ORDER BY day) AS i,
           SUM(c) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(c) OVER () AS total,
           COUNT(*) OVER () AS nd
    FROM daily
),
dev AS (
    SELECT day, i, nd, total,
           ABS(nd * cum - i * total) AS snum
    FROM seq
),
best AS (
    SELECT * FROM dev ORDER BY snum DESC, day ASC LIMIT 1
)
SELECT CAST(day AS BIGINT) AS change_day,
       CAST(nd AS BIGINT) AS n_days,
       CAST(total AS BIGINT) AS n_events,
       CAST(snum AS BIGINT) AS cusum_num,
       ROUND(CAST(snum AS DOUBLE) / CAST(nd AS DOUBLE), 4) + 0.0
           AS cusum_peak
FROM best
"""


@query("cusum_changepoint", oracle=_CUSUM_ORACLE, tags=("temporal", "stats"))
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point localization over the daily event-count
    series: the peak of |S_i| = |sum_{j<=i}(c_j - mean)| marks the most
    likely rate change. The argmax is EXACT-INTEGER — S_i * n_days =
    n_days*cum_i - i*total, cross-multiplied so no float decides the
    witness day (the KS-supremum discipline applied to time series);
    one division reports the peak. Day bucketing via the engine-wide
    ts_us div idiom; the windows ride the tiny per-day table."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(day_bucket().alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    ow = Window.orderBy("day")
    cumw = ow.rowsBetween(Window.unboundedPreceding, 0)
    allw = Window.partitionBy()
    seq = daily.select(
        "day",
        F.row_number().over(ow).alias("i"),
        F.sum("c").over(cumw).alias("cum"),
        F.sum("c").over(allw).alias("total"),
        F.count(F.lit(1)).over(allw).alias("nd"),
    )
    dev = seq.select(
        "day",
        "i",
        "nd",
        "total",
        F.abs(F.col("nd") * F.col("cum") - F.col("i") * F.col("total")).alias(
            "snum"
        ),
    )
    best = dev.agg(
        F.min(
            F.struct((-F.col("snum")).alias("negs"), "day", "nd", "total")
        ).alias("b")
    ).select("b.*")
    return best.select(
        F.col("day").cast("bigint").alias("change_day"),
        F.col("nd").cast("bigint").alias("n_days"),
        F.col("total").cast("bigint").alias("n_events"),
        (-F.col("negs")).cast("bigint").alias("cusum_num"),
        (
            F.round((-F.col("negs")).cast("double") / F.col("nd").cast("double"), 4)
            + F.lit(0.0)
        ).alias("cusum_peak"),
    )


# --------------------------------------------------------------------------
# T131: autocorrelation function (lags 1..7) of the daily event series
# --------------------------------------------------------------------------

_ACF_MAX_LAG = 7

_ACF_ORACLE = """
WITH daily AS (
    SELECT EPOCH_US(ts) // 86400000000 AS day, COUNT(*) AS c
    FROM events GROUP BY 1
),
st AS (SELECT COUNT(*) AS n, SUM(c) AS t FROM daily),
dev AS (
    SELECT day, st.n, (st.n * c - st.t) AS d FROM daily, st
),
led AS (
    SELECT n, d,
           LEAD(d, 1) OVER w AS d1, LEAD(d, 2) OVER w AS d2,
           LEAD(d, 3) OVER w AS d3, LEAD(d, 4) OVER w AS d4,
           LEAD(d, 5) OVER w AS d5, LEAD(d, 6) OVER w AS d6,
           LEAD(d, 7) OVER w AS d7
    FROM dev WINDOW w AS (ORDER BY day)
),
den AS (SELECT SUM(d * d) AS dd FROM dev),
nums AS (
              SELECT 1 AS lag, COALESCE(SUM(d * d1), 0) AS num FROM led
    UNION ALL SELECT 2, COALESCE(SUM(d * d2), 0) FROM led
    UNION ALL SELECT 3, COALESCE(SUM(d * d3), 0) FROM led
    UNION ALL SELECT 4, COALESCE(SUM(d * d4), 0) FROM led
    UNION ALL SELECT 5, COALESCE(SUM(d * d5), 0) FROM led
    UNION ALL SELECT 6, COALESCE(SUM(d * d6), 0) FROM led
    UNION ALL SELECT 7, COALESCE(SUM(d * d7), 0) FROM led
)
SELECT CAST(lag AS INT) AS lag,
       CAST((SELECT n FROM st) AS BIGINT) AS n_days,
       CAST(num AS DOUBLE) AS acf_num,
       CAST((SELECT dd FROM den) AS DOUBLE) AS acf_den,
       ROUND(CAST(num AS DOUBLE) / CAST((SELECT dd FROM den) AS DOUBLE), 6)
           + 0.0 AS acf
FROM nums
"""


@query("acf_daily_events", oracle=_ACF_ORACLE, tags=("temporal", "stats"))
def acf_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1..7) of the daily event-count
    series — the seasonality detector behind any forecasting stage.
    Integer-exact throughout: with mean = T/n, the deviation is scaled
    to d_i = n*c_i - T (an integer), so r_k = sum(d_i * d_{i+k}) /
    sum(d_i^2) is a ratio of exact integers and ONE double division
    reports each lag (< 2^53 while n_days * total_events < ~3e9; past
    that the documented upgrade is decimal(38,0) product sums). All
    seven LEADs ride ONE WindowExec over the tiny per-day table; the
    event-stream exchange is the single groupBy(day) partial agg."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(day_bucket().alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    allw = Window.partitionBy()
    ow = Window.orderBy("day")
    dev = daily.select(
        "day",
        (F.count(F.lit(1)).over(allw) * F.col("c") - F.sum("c").over(allw)).alias(
            "d"
        ),
        F.count(F.lit(1)).over(allw).alias("n"),
    )
    led = dev.select(
        "n",
        "d",
        *[F.lead("d", k).over(ow).alias(f"d{k}") for k in range(1, _ACF_MAX_LAG + 1)],
        F.sum(F.col("d") * F.col("d")).over(allw).alias("dd"),
    )
    stack_args = ", ".join(f"{k}, d * d{k}" for k in range(1, _ACF_MAX_LAG + 1))
    stacked = led.select(
        "n",
        "dd",
        F.expr(f"stack({_ACF_MAX_LAG}, {stack_args}) as (lag, prod)"),
    )
    return (
        stacked.groupBy("lag")
        .agg(
            F.max("n").alias("n"),
            F.max("dd").alias("dd"),
            F.coalesce(F.sum("prod"), F.lit(0)).alias("num"),
        )
        .select(
            F.col("lag").cast("int").alias("lag"),
            F.col("n").cast("bigint").alias("n_days"),
            F.col("num").cast("double").alias("acf_num"),
            F.col("dd").cast("double").alias("acf_den"),
            (
                F.round(F.col("num").cast("double") / F.col("dd").cast("double"), 6)
                + F.lit(0.0)
            ).alias("acf"),
        )
    )


# --------------------------------------------------------------------------
# T132: seasonal-naive forecast backtest (lag-7) with MASE vs naive-1
# --------------------------------------------------------------------------

_BACKTEST_ORACLE = """
WITH daily AS (
    SELECT EPOCH_US(ts) // 86400000000 AS day, COUNT(*) AS c
    FROM events GROUP BY 1
),
led AS (
    SELECT day, c,
           LAG(c, 7) OVER (ORDER BY day) AS f7,
           LAG(c, 1) OVER (ORDER BY day) AS f1
    FROM daily
),
ev AS (SELECT * FROM led WHERE f7 IS NOT NULL)
SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(ABS(c - f7)) AS BIGINT) AS mae7_num,
       CAST(SUM(ABS(c - f1)) AS BIGINT) AS mae1_num,
       ROUND(CAST(SUM(ABS(c - f7)) AS DOUBLE) / COUNT(*), 4) + 0.0 AS mae7,
       ROUND(CAST(SUM(ABS(c - f7)) AS DOUBLE)
             / CAST(SUM(ABS(c - f1)) AS DOUBLE), 6) + 0.0 AS mase,
       ROUND(CAST(SUM(CAST(FLOOR(1e9 * ABS(c - f7) / c + 0.5) AS BIGINT))
                  AS DOUBLE) / (1e9 * COUNT(*)), 6) + 0.0 AS mape
FROM ev
"""


@query("seasonal_naive_backtest", oracle=_BACKTEST_ORACLE, tags=("temporal", "stats"))
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (lag-7) forecast backtest over the daily event
    series: MAE as an exact integer sum, MASE as the ratio of the
    seasonal MAE to the naive-1 MAE on the SAME evaluation rows (the
    scale-free forecast-quality standard — the integer numerators make
    it a ratio of exact counts), and MAPE with each per-day term
    quantized to 1e-9 fixed point before summation (per-term division
    of exact integers is correctly rounded and identical cross-engine;
    the quantized terms then sum exactly). Daily counts are >= 1 by
    construction so the MAPE denominator never divides by zero. Both
    LAGs share one WindowExec over the per-day table."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(day_bucket().alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    ow = Window.orderBy("day")
    led = daily.select(
        "c",
        F.lag("c", 7).over(ow).alias("f7"),
        F.lag("c", 1).over(ow).alias("f1"),
    ).filter(F.col("f7").isNotNull())
    mape_q9 = F.floor(
        F.lit(1e9) * F.abs(F.col("c") - F.col("f7")) / F.col("c") + F.lit(0.5)
    ).cast("bigint")
    return led.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.sum(F.abs(F.col("c") - F.col("f7"))).cast("bigint").alias("mae7_num"),
        F.sum(F.abs(F.col("c") - F.col("f1"))).cast("bigint").alias("mae1_num"),
        (
            F.round(
                F.sum(F.abs(F.col("c") - F.col("f7"))).cast("double")
                / F.count(F.lit(1)),
                4,
            )
            + F.lit(0.0)
        ).alias("mae7"),
        (
            F.round(
                F.sum(F.abs(F.col("c") - F.col("f7"))).cast("double")
                / F.sum(F.abs(F.col("c") - F.col("f1"))).cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("mase"),
        (
            F.round(
                F.sum(mape_q9).cast("double") / (F.lit(1e9) * F.count(F.lit(1))),
                6,
            )
            + F.lit(0.0)
        ).alias("mape"),
    )


# --------------------------------------------------------------------------
# T133: Theil-Sen robust trend (median of pairwise slopes) of daily counts
# --------------------------------------------------------------------------

_THEILSEN_ORACLE = """
WITH daily AS (
    SELECT EPOCH_US(ts) // 86400000000 AS day, COUNT(*) AS c
    FROM events GROUP BY 1
),
seq AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, c FROM daily),
pairs AS (
    SELECT a.i AS i, b.i AS j,
           CAST(FLOOR(1e9 * (b.c - a.c) / (b.i - a.i) + 0.5) AS BIGINT) AS sq9
    FROM seq a JOIN seq b ON b.i > a.i
),
ranked AS (
    SELECT i, j, sq9,
           ROW_NUMBER() OVER (ORDER BY sq9, i, j) AS rn,
           COUNT(*) OVER () AS m
    FROM pairs
)
SELECT CAST((SELECT COUNT(*) FROM seq) AS BIGINT) AS n_days,
       CAST(m AS BIGINT) AS n_pairs,
       CAST(sq9 AS BIGINT) AS slope_q9,
       ROUND(sq9 / 1e9, 6) + 0.0 AS slope_per_day,
       CAST(i AS BIGINT) AS witness_i,
       CAST(j AS BIGINT) AS witness_j
FROM ranked WHERE rn = (m + 1) // 2
"""


@query("theilsen_trend", oracle=_THEILSEN_ORACLE, tags=("temporal", "stats"))
def theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimate over the daily event series: the
    median of all pairwise slopes (c_j - c_i)/(j - i), the classic
    outlier-resistant alternative to least-squares (breakdown point
    ~29%). Each slope is quantized to 1e-9 fixed point at the PAIR (one
    exact-integer-operand division per pair, correctly rounded and
    identical cross-engine), so the median is an exact-integer order
    statistic with a (slope, i, j) total order — no float compare
    decides it. Pair generation is a nested array transform over the
    collected per-day sequence (bounded by n_days^2 PAIRS OF DAYS,
    never events — ~90 days -> ~4k pairs at any corpus size), so the
    event-stream exchange is the single groupBy(day); the oracle uses
    the equivalent self-join spelling."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(day_bucket().alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    ow = Window.orderBy("day")
    seq = daily.select(F.row_number().over(ow).alias("i"), "c")
    arr = seq.agg(
        F.array_sort(F.collect_list(F.struct("i", "c"))).alias("a")
    )
    pairs = arr.select(
        F.explode(
            F.expr(
                "flatten(transform(a, (x, ix) -> "
                "transform(slice(a, ix + 2, size(a)), y -> "
                "struct(x.i as i, y.i as j, "
                "cast(floor(1e9 * (y.c - x.c) / (y.i - x.i) + 0.5) as bigint)"
                " as sq9))))"
            )
        ).alias("p")
    ).select("p.*")
    rw = Window.orderBy("sq9", "i", "j")
    allw = Window.partitionBy()
    ranked = pairs.select(
        "i",
        "j",
        "sq9",
        F.row_number().over(rw).alias("rn"),
        F.count(F.lit(1)).over(allw).alias("m"),
        F.max(F.col("j")).over(allw).alias("nd"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(m + 1) div 2")
    ).select(
        F.col("nd").cast("bigint").alias("n_days"),
        F.col("m").cast("bigint").alias("n_pairs"),
        F.col("sq9").cast("bigint").alias("slope_q9"),
        (F.round(F.col("sq9") / F.lit(1e9), 6) + F.lit(0.0)).alias("slope_per_day"),
        F.col("i").cast("bigint").alias("witness_i"),
        F.col("j").cast("bigint").alias("witness_j"),
    )


# --------------------------------------------------------------------------
# T134: rolling-median/MAD anomaly flags over the daily event series
# --------------------------------------------------------------------------

_MAD_WIN = 15  # preceding days in the baseline window
_MAD_MIN = 8  # minimum history before a flag can fire
_MAD_K = 3  # flag when |c - med| > K * MAD

_MAD_ORACLE = f"""
WITH daily AS (
    SELECT EPOCH_US(ts) // 86400000000 AS day, COUNT(*) AS c
    FROM events GROUP BY 1
),
w AS (
    SELECT day, c,
           LIST(c) OVER (ORDER BY day
                         ROWS BETWEEN {_MAD_WIN} PRECEDING AND 1 PRECEDING)
               AS l
    FROM daily
),
m AS (
    SELECT day, c, l,
           CASE WHEN len(l) >= {_MAD_MIN}
                THEN list_sort(l)[(len(l) + 1) // 2] END AS med
    FROM w
),
d AS (
    SELECT day, c, med,
           CASE WHEN med IS NOT NULL
                THEN list_sort(list_transform(l, x -> abs(x - med)))
                         [(len(l) + 1) // 2] END AS mad
    FROM m
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(c AS BIGINT) AS c,
       CAST(med AS BIGINT) AS baseline_med,
       CAST(mad AS BIGINT) AS baseline_mad,
       CASE WHEN med IS NULL THEN FALSE
            ELSE ABS(c - med) > {_MAD_K} * mad END AS is_anomaly
FROM d
"""


@query("anomaly_mad_daily", oracle=_MAD_ORACLE, tags=("temporal", "stats"))
def anomaly_mad_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly flags over the daily event series: each day is
    scored against the median and MAD (median absolute deviation) of
    its preceding 15-day window — the standard robust z-score
    (|c - med| > 3*MAD) that a mean/stddev detector gets wrong
    whenever the baseline itself contains spikes. The window list is
    bounded at 15 elements so the per-row sort is O(1); both
    median and MAD are exact integer order statistics (lower median —
    no float interpolation), bit-comparable cross-engine. Days with
    under 8 prior days emit NULL baselines and never flag.
    The event-stream exchange is the single groupBy(day); everything
    after rides the tiny per-day table."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(day_bucket().alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    ww = Window.orderBy("day").rowsBetween(-_MAD_WIN, -1)
    w = daily.select("day", "c", F.collect_list("c").over(ww).alias("l"))
    med = F.when(
        F.size("l") >= _MAD_MIN,
        F.element_at(F.array_sort("l"), F.expr("(size(l) + 1) div 2").cast("int")),
    )
    m = w.select("day", "c", "l", med.alias("med"))
    mad = F.when(
        F.col("med").isNotNull(),
        F.element_at(
            F.array_sort(F.expr("transform(l, x -> abs(x - med))")),
            F.expr("(size(l) + 1) div 2").cast("int"),
        ),
    )
    d = m.select("day", "c", "med", mad.alias("mad"))
    return d.select(
        F.col("day").cast("bigint").alias("day"),
        F.col("c").cast("bigint").alias("c"),
        F.col("med").cast("bigint").alias("baseline_med"),
        F.col("mad").cast("bigint").alias("baseline_mad"),
        F.when(F.col("med").isNull(), F.lit(False))
        .otherwise(
            F.abs(F.col("c") - F.col("med")) > F.lit(_MAD_K) * F.col("mad")
        )
        .alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
# T135: per-day max-concurrency via a partitioned sweep-line
# --------------------------------------------------------------------------

_SWEEP_ORACLE = """
WITH iv AS (
    SELECT EPOCH_US(ts) // 86400000000 AS day, user_id,
           MIN(EPOCH_US(ts)) AS s, MAX(EPOCH_US(ts)) AS e
    FROM events GROUP BY 1, 2
),
pts AS (
    SELECT day, s AS t, 1 AS d FROM iv
    UNION ALL
    SELECT day, e + 1, -1 FROM iv
),
merged AS (
    SELECT day, t, SUM(d) AS d,
           SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS starts
    FROM pts GROUP BY day, t
),
run AS (
    SELECT day, t, starts,
           SUM(d) OVER (PARTITION BY day ORDER BY t) AS active
    FROM merged
),
mx AS (
    SELECT day, t, starts, active,
           MAX(active) OVER (PARTITION BY day) AS peak
    FROM run
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(SUM(starts) AS BIGINT) AS n_intervals,
       CAST(MAX(peak) AS BIGINT) AS max_concurrent,
       CAST(MIN(CASE WHEN active = peak THEN t END) AS BIGINT)
           AS witness_ts_us
FROM mx GROUP BY day
"""


@query("interval_concurrency_sweep", oracle=_SWEEP_ORACLE, tags=("temporal",))
def interval_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day peak concurrency by sweep-line: each user's activity on a
    day is the inclusive interval [first event, last event]; the sweep
    emits +1 at start and -1 at end+1, collapses same-timestamp deltas
    with a pre-aggregation (so no intra-timestamp ordering ever decides
    the result), and a running sum finds the peak and its earliest
    witness timestamp. The count/sum/max pipeline is pure integers.

    Scale shape: the sweep WINDOW is partitioned by day — intervals
    never cross days by construction — so unlike the classic global
    sweep-line this parallelizes to any date range (each day's point
    list is bounded by 2x its distinct users). ONE scan: the interval
    count rides the sweep itself as the per-day sum of start points,
    so no second aggregate/join re-reads the events table; the final
    day rollup reuses the window's day-hash partitioning exchange-free."""
    ev = load(spark, sf_dir, "events")
    iv = ev.groupBy(day_bucket().alias("day"), "user_id").agg(
        F.min("ts_us").alias("s"), F.max("ts_us").alias("e")
    )
    # explode, not union: a union of two selects over iv would make
    # Catalyst split the min/max aggregation into two per-branch
    # aggregations — two full scans + two (day,user) shuffles of the
    # event stream. One row -> two sweep points keeps ONE of each.
    pts = iv.select(
        "day",
        F.explode(
            F.array(
                F.struct(F.col("s").alias("t"), F.lit(1).alias("d")),
                F.struct((F.col("e") + 1).alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("p"),
    ).select("day", "p.t", "p.d")
    merged = pts.groupBy("day", "t").agg(
        F.sum("d").alias("d"),
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0)).alias("starts"),
    )
    run = merged.select(
        "day",
        "t",
        "starts",
        F.sum("d").over(Window.partitionBy("day").orderBy("t")).alias("active"),
    )
    dw = Window.partitionBy("day")
    mx = run.select(
        "day",
        "t",
        "starts",
        "active",
        F.max("active").over(dw).alias("peak"),
    )
    return mx.groupBy("day").agg(
        F.sum("starts").cast("bigint").alias("n_intervals"),
        F.max("peak").cast("bigint").alias("max_concurrent"),
        F.min(F.when(F.col("active") == F.col("peak"), F.col("t")))
        .cast("bigint")
        .alias("witness_ts_us"),
    ).select(
        F.col("day").cast("bigint").alias("day"),
        "n_intervals",
        "max_concurrent",
        "witness_ts_us",
    )


# --------------------------------------------------------------------------
# T136: first/last-touch revenue attribution with a 7-day lookback
# --------------------------------------------------------------------------

_ATTR_LOOKBACK_US = 7 * 86_400_000_000

_ATTR_ORACLE = f"""
WITH ev AS (
    SELECT user_id, EPOCH_US(ts) AS ts_us, event_type, value,
           CAST(JSON_EXTRACT(props, '$.k') AS BIGINT) AS k
    FROM events
),
touched AS (
    SELECT user_id, ts_us, event_type, value,
           MIN(CASE WHEN event_type = 'click' THEN
                   struct_pack(ts := ts_us, ch := ['email','search','social','direct'][(k % 4) + 1])
               END) OVER w AS ft,
           MAX(CASE WHEN event_type = 'click' THEN
                   struct_pack(ts := ts_us, ch := ['email','search','social','direct'][(k % 4) + 1])
               END) OVER w AS lt
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN {_ATTR_LOOKBACK_US} PRECEDING AND CURRENT ROW)
),
models AS (
    SELECT 'first_touch' AS model, COALESCE(ft.ch, 'none') AS channel, value
    FROM touched WHERE event_type = 'purchase'
    UNION ALL
    SELECT 'last_touch', COALESCE(lt.ch, 'none'), value
    FROM touched WHERE event_type = 'purchase'
)
SELECT model, channel,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM models GROUP BY model, channel
"""


@query("attribution_first_last_touch", oracle=_ATTR_ORACLE, tags=("temporal",))
def attribution_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style revenue attribution: each purchase credits the
    FIRST and the LAST click of the same user within a 7-day lookback
    (channel derived from the click's props.k), 'none' when the window
    holds no click. Both models ride ONE user-partitioned range-frame
    WindowExec — min(struct) is the earliest touch and max(struct) the
    latest (ties at equal timestamps break on the channel string, the
    same total order both engines give struct comparison), and the
    aggregate MIN/MAX skip non-click rows through the CASE/when NULL.
    Revenue sums in decimal cents (order-independent, exact). One
    user-hash exchange + one small rollup exchange; no self-join, no
    per-purchase click scan — the scale-correct attribution shape."""
    ch = F.element_at(
        F.array(*[F.lit(c) for c in ("email", "search", "social", "direct")]),
        (F.get_json_object("props", "$.k").cast("bigint") % 4 + 1).cast("int"),
    )
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "ts_us",
        "event_type",
        "value",
        F.when(F.col("event_type") == "click", F.struct(F.col("ts_us").alias("ts"), ch.alias("ch"))).alias("t"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_ATTR_LOOKBACK_US, 0)
    )
    touched = ev.select(
        "event_type",
        "value",
        F.min("t").over(w).alias("ft"),
        F.max("t").over(w).alias("lt"),
    ).filter(F.col("event_type") == "purchase")
    models = touched.select(
        F.lit("first_touch").alias("model"),
        F.coalesce(F.col("ft.ch"), F.lit("none")).alias("channel"),
        "value",
    ).unionAll(
        touched.select(
            F.lit("last_touch").alias("model"),
            F.coalesce(F.col("lt.ch"), F.lit("none")).alias("channel"),
            "value",
        )
    )
    return models.groupBy("model", "channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        dsum("value").alias("revenue"),
    )


ROLLING_DISTINCT_DAYS = 7

_ROLLING_DISTINCT_ORACLE = f"""
WITH ud AS (
    SELECT EPOCH_US(ts) // 86400000000 AS day, user_id
    FROM events GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM ud),
expanded AS (
    SELECT user_id, day + i AS tday
    FROM ud, UNNEST(GENERATE_SERIES(0, {ROLLING_DISTINCT_DAYS - 1})) t(i)
),
daily AS (
    SELECT day, CAST(COUNT(*) AS BIGINT) AS users_1d FROM ud GROUP BY day
)
SELECT d.day,
       daily.users_1d,
       CAST(COUNT(DISTINCT x.user_id) AS BIGINT) AS users_7d
FROM days d
JOIN expanded x ON x.tday = d.day
JOIN daily ON daily.day = d.day
GROUP BY d.day, daily.users_1d
"""


@query(
    "rolling_distinct_users",
    oracle=_ROLLING_DISTINCT_ORACLE,
    tags=("temporal",),
)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day DISTINCT user count per active day — the windowed
    COUNT DISTINCT that window frames cannot express (no DISTINCT
    aggregates over RANGE frames in either engine). Scale form: dedupe
    to (user, day), EXPLODE each into the <=7 future days it covers,
    then one distinct-count per day — expansion factor is the window
    length (a constant), shuffle keys are (day, user); never a
    day-range self-join (whose skew is the full fact table per day at
    100 TB). Day buckets are epoch-microsecond integer division
    (registry.day_bucket idiom)."""
    ev = load(spark, sf_dir, "events")
    ud = (
        ev.select(day_bucket("ts_us").alias("day"), "user_id").distinct()
    )

    ud = ud.localCheckpoint(eager=True)
    days = ud.select("day").distinct()
    expanded = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.lit(ROLLING_DISTINCT_DAYS - 1),
            )
        ).alias("tday"),
    )
    daily = ud.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("users_1d")
    )
    return (
        days.join(expanded, days["day"] == expanded["tday"])
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("users_7d"))
        .join(daily, "day")
        .select("day", "users_1d", "users_7d")
    )


_ROLLING_MEDIAN_ORACLE = f"""
WITH daily AS (
    SELECT EPOCH_US(ts) // 86400000000 AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1
),
days AS (SELECT day FROM daily),
expanded AS (
    SELECT day + i AS tday, cnt
    FROM daily, UNNEST(GENERATE_SERIES(0, {ROLLING_DISTINCT_DAYS - 1})) t(i)
),
win AS (
    SELECT d.day, LIST_SORT(LIST(e.cnt)) AS a,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM days d JOIN expanded e ON e.tday = d.day
    GROUP BY d.day
)
SELECT day, n AS n_window,
       CAST(a[CAST((n + 1) // 2 AS INT)]
            + a[CAST(n // 2 + 1 AS INT)] AS BIGINT) AS median_x2,
       CAST(a[CAST((n + 1) // 2 AS INT)]
            + a[CAST(n // 2 + 1 AS INT)] AS DOUBLE) / 2 AS median
FROM win
"""


@query(
    "rolling_median_daily", oracle=_ROLLING_MEDIAN_ORACLE, tags=("temporal",)
)
def rolling_median_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day MEDIAN of the daily event count — the
    order-statistic window aggregate neither engine's RANGE frames
    express portably (engine-native windowed medians differ in
    interpolation). Same bounded-expansion shape as
    rolling_distinct_users: each day's count covers its <=7 target
    days, the per-day window is a sorted array of <= 7 elements
    (bounded by the window length — collect_list is safe by
    construction, never corpus-sized), and the even/odd midpoint is
    emitted as the exact integer a[lo] + a[hi] (median_x2) beside one
    IEEE division. The heavy input (events) collapses to the day table
    FIRST, so the expansion runs on rows bounded by distinct days."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(day_bucket("ts_us").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )

    daily = daily.localCheckpoint(eager=True)
    days = daily.select("day")
    expanded = daily.select(
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.lit(ROLLING_DISTINCT_DAYS - 1),
            )
        ).alias("tday"),
        "cnt",
    )
    win = (
        days.join(expanded, days["day"] == expanded["tday"])
        .groupBy("day")
        .agg(
            F.sort_array(F.collect_list("cnt")).alias("a"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    m2 = F.expr(
        "element_at(a, cast((n + 1) div 2 as int))"
        " + element_at(a, cast(n div 2 + 1 as int))"
    ).cast("bigint")
    return win.select(
        "day",
        F.col("n").alias("n_window"),
        m2.alias("median_x2"),
        (m2.cast("double") / 2).alias("median"),
    )


PATH_TOP_K = 20

_PATH_ORACLE = f"""
WITH seq AS (
    SELECT event_type
               || '>' || LEAD(event_type, 1) OVER w
               || '>' || LEAD(event_type, 2) OVER w AS path
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY EPOCH_US(ts), event_id)
),
counted AS (
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE path IS NOT NULL GROUP BY path
)
SELECT path, n FROM counted
ORDER BY n DESC, path
LIMIT {PATH_TOP_K}
"""


@query("event_path_trigrams", oracle=_PATH_ORACLE, tags=("temporal",))
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining: the top-{PATH_TOP_K} 3-step event-type
    paths across users — the Markov-transition query's order-3 sibling,
    built from ONE user-partitioned window (two LEADs share the single
    WindowExec sort; string concat null-propagates, so tail rows with
    fewer than 2 successors drop out) + one path-keyed count. Ordering
    inside the window is the deterministic (ts, event_id) total order;
    top-k is TakeOrderedAndProject. No per-user arrays, no self-joins —
    the shape scales as one exchange on user_id plus one on path."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    path = F.concat_ws(
        ">",
        F.col("event_type"),
        F.lead("event_type", 1).over(w),
        F.lead("event_type", 2).over(w),
    )
    # concat_ws SKIPS nulls (would alias short tails onto real paths):
    # null-propagate explicitly by requiring both leads present
    guarded = F.when(
        F.lead("event_type", 1).over(w).isNotNull()
        & F.lead("event_type", 2).over(w).isNotNull(),
        path,
    )
    return (
        ev.select(guarded.alias("path"))
        .filter(F.col("path").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("path"))
        .limit(PATH_TOP_K)
    )


_FRAME_PROBE_ORACLE = """
WITH daily AS (
    SELECT EPOCH_US(ts) // 86400000000 AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
)
SELECT day, event_type, cnt,
       CAST(SUM(cnt) OVER (ORDER BY day, event_type
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS sum_rows,
       CAST(SUM(cnt) OVER (ORDER BY day
                           RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS sum_range
FROM daily
"""


@query(
    "window_frame_semantics_probe",
    oracle=_FRAME_PROBE_ORACLE,
    tags=("conformance", "temporal"),
)
def window_frame_semantics_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS vs RANGE frame divergence under duplicate order keys — the
    window-frame trap: with several event_type rows per day, ROWS
    counts physical neighbors (needs the TOTAL order (day, event_type)
    to be deterministic at all) while RANGE aggregates every PEER of
    the current day plus the two preceding days' peers regardless of
    physical position. Both engines agree on each semantic; a user who
    meant trailing-3-days must write RANGE, and this probe pins the
    difference as data. One aggregated frame, one WindowExec serving
    both frames."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        day_bucket("ts_us").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w_rows = (
        Window.orderBy("day", "event_type").rowsBetween(-2, 0)
    )
    w_range = Window.orderBy("day").rangeBetween(-2, 0)
    return daily.select(
        "day",
        "event_type",
        "cnt",
        F.sum("cnt").over(w_rows).cast("bigint").alias("sum_rows"),
        F.sum("cnt").over(w_range).cast("bigint").alias("sum_range"),
    )


_CALENDAR_ORACLE = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
       CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS qtr,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mon,
       STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d')
           AS month_start,
       STRFTIME(LAST_DAY(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
           AS month_end,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY 1, 2, 3, 4, 5
"""


@query("calendar_rollup_monthly", oracle=_CALENDAR_ORACLE, tags=("temporal",))
def calendar_rollup_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension rollup: revenue by year/quarter/month with
    month start/end boundaries — the reporting-layer date machinery
    (EXTRACT, DATE_TRUNC, LAST_DAY) pinned cross-engine. Dates are
    emitted as formatted STRINGS (registry rule 5: wall-clock stable
    under any session timezone; a raw timestamp cell would hash
    differently across tz configs). One pass, one exchange on the
    month key; the calendar functions all run scan-side."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.quarter("o_orderdate").cast("bigint").alias("qtr"),
        F.month("o_orderdate").cast("bigint").alias("mon"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd")
        .alias("month_start"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd")
        .alias("month_end"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


_STREAK_ORACLE = """
WITH ud AS (
    SELECT DISTINCT user_id, EPOCH_US(ts) // 86400000000 AS day
    FROM events
),
islands AS (
    SELECT user_id, day,
           day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS island
    FROM ud
),
streaks AS (
    SELECT user_id, island,
           CAST(COUNT(*) AS BIGINT) AS len,
           CAST(MIN(day) AS BIGINT) AS start_day
    FROM islands GROUP BY user_id, island
),
best AS (
    SELECT user_id, len, start_day,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY len DESC, start_day) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_streaks,
           CAST(SUM(len) OVER (PARTITION BY user_id) AS BIGINT)
               AS n_active_days
    FROM streaks
)
SELECT user_id, n_active_days, n_streaks,
       len AS longest_streak, start_day AS longest_streak_start
FROM best WHERE rn = 1
"""


@query("streak_gaps_islands", oracle=_STREAK_ORACLE, tags=("temporal",))
def streak_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest consecutive-active-day streak per user
    via the day − ROW_NUMBER island-id trick — consecutive days share a
    constant difference, so islands fall out of ONE user-partitioned
    window + one groupBy, never a self-join on day+1 (whose probe side
    is the full activity table). Tie-break: earliest start wins
    (deterministic). Everything is exact integers; the user partition
    key makes every window parallel at any scale."""
    ev = load(spark, sf_dir, "events")
    ud = ev.select("user_id", day_bucket("ts_us").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = ud.select(
        "user_id",
        "day",
        (F.col("day") - F.row_number().over(w)).alias("island"),
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("len"),
        F.min("day").cast("bigint").alias("start_day"),
    )
    wu = Window.partitionBy("user_id")
    best = streaks.select(
        "user_id",
        "len",
        "start_day",
        F.row_number()
        .over(
            Window.partitionBy("user_id").orderBy(
                F.col("len").desc(), F.col("start_day")
            )
        )
        .alias("rn"),
        F.count(F.lit(1)).over(wu).cast("bigint").alias("n_streaks"),
        F.sum("len").over(wu).cast("bigint").alias("n_active_days"),
    )
    return best.filter(F.col("rn") == 1).select(
        "user_id",
        "n_active_days",
        "n_streaks",
        F.col("len").alias("longest_streak"),
        F.col("start_day").alias("longest_streak_start"),
    )


_DWELL_ORACLE = """
WITH seq AS (
    SELECT event_type,
           LEAD(EPOCH_US(ts)) OVER (PARTITION BY user_id
                                    ORDER BY EPOCH_US(ts), event_id)
               - EPOCH_US(ts) AS dwell_us
    FROM events
)
SELECT event_type,
       CAST(COUNT(dwell_us) AS BIGINT) AS n_spells,
       CAST(SUM(dwell_us) AS BIGINT) AS total_dwell_us,
       CAST(MAX(dwell_us) AS BIGINT) AS max_dwell_us,
       CAST(SUM(dwell_us) // COUNT(dwell_us) AS BIGINT) AS mean_dwell_us
FROM seq
WHERE dwell_us IS NOT NULL
GROUP BY event_type
"""


@query("state_dwell_times", oracle=_DWELL_ORACLE, tags=("temporal",))
def state_dwell_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-in-state accounting: each event opens a state that lasts
    until the user's NEXT event (LEAD over the deterministic (ts, id)
    order — one user-partitioned WindowExec), aggregated to per-state
    spell counts and exact integer dwell sums; the mean is integral
    division (engine-portable, unlike AVG's internal precisions). The
    terminal spell per user is open-ended and excluded — the same
    convention a sessionizer uses. Shape: one exchange on user_id, one
    on event_type."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "event_type",
        (F.lead("ts_us").over(w) - F.col("ts_us")).alias("dwell_us"),
    ).filter(F.col("dwell_us").isNotNull())
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spells"),
        F.sum("dwell_us").cast("bigint").alias("total_dwell_us"),
        F.max("dwell_us").cast("bigint").alias("max_dwell_us"),
        F.expr("sum(dwell_us) div count(dwell_us)")
        .cast("bigint")
        .alias("mean_dwell_us"),
    )


_MOM_ORACLE = """
WITH monthly AS (
    SELECT STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
    FROM orders GROUP BY 1
)
SELECT month,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(rev - LAG(rev) OVER (ORDER BY month) AS DOUBLE) AS mom_delta,
       CAST(CAST(rev - LAG(rev) OVER (ORDER BY month) AS DOUBLE)
            / CAST(LAG(rev) OVER (ORDER BY month) AS DOUBLE) AS DOUBLE)
           AS mom_pct
FROM monthly
"""


@query("monthly_revenue_mom", oracle=_MOM_ORACLE, tags=("temporal",))
def monthly_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth: monthly revenue (exact decimal sums)
    with LAG delta and growth rate — deltas computed in DECIMAL (exact,
    then one correctly-rounded cast) and the rate as ONE IEEE division
    of exactly-rounded operands. The unpartitioned LAG window runs over
    the ~80-row monthly frame (constant at any fact-table scale —
    aggregate first, window second, the engine-wide discipline)."""
    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd")
        .alias("month")
    ).agg(F.sum(dec("o_totalprice")).alias("rev"))
    w = Window.orderBy("month")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "month",
        F.col("rev").cast("double").alias("revenue"),
        (F.col("rev") - prev).cast("double").alias("mom_delta"),
        (
            (F.col("rev") - prev).cast("double") / prev.cast("double")
        ).alias("mom_pct"),
    )


SLO_QUANTILES = (50, 90, 99)

_SLO_ORACLE = f"""
WITH vals AS (
    SELECT event_type,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
    FROM events WHERE value IS NOT NULL
),
vc AS (
    SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
    FROM vals GROUP BY event_type, v
),
cum AS (
    SELECT event_type, v, c,
           CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS BIGINT) AS cm,
           CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
    FROM vc
),
cand AS (
    SELECT event_type, q, v
    FROM cum, UNNEST([{", ".join(str(q) for q in SLO_QUANTILES)}]) t(q)
    WHERE cm >= (q * n + 99) // 100
)
SELECT event_type, CAST(q AS BIGINT) AS q,
       CAST(MIN(v) AS BIGINT) AS value_x100
FROM cand GROUP BY event_type, q
"""


@query("latency_percentiles_slo", oracle=_SLO_ORACLE, tags=("temporal",))
def latency_percentiles_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 per event_type (PERCENTILE_DISC semantics —
    smallest value whose cumulative count reaches ceil(q·n/100)) done
    scale-right: values quantized to exact integer centi-units (rule-2
    floor), aggregated to (group, value) counts FIRST (map-side
    combine — the shuffle carries distinct values, not events), one
    group-partitioned cumulative window over the aggregated rows, and
    a 3-element quantile explode. No per-group collect_list, no global
    sort, no engine-native percentile (whose interpolation rules
    differ across engines)."""
    ev = load(spark, sf_dir, "events")
    vals = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v"),
    )
    vc = vals.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = vc.select(
        "event_type",
        "v",
        F.sum("c").over(w_cum).cast("bigint").alias("cm"),
        F.sum("c").over(w_all).cast("bigint").alias("n"),
    )
    qs = F.array(*[F.lit(q) for q in SLO_QUANTILES])
    cand = cum.select(
        "event_type", "v", "cm", "n", F.explode(qs).alias("q")
    ).filter(F.col("cm") >= F.expr("(q * n + 99) div 100"))
    return cand.groupBy("event_type", F.col("q").cast("bigint").alias("q")).agg(
        F.min("v").cast("bigint").alias("value_x100")
    )


_ISOWEEK_ORACLE = """
SELECT CAST(EXTRACT(isoyear FROM o_orderdate) AS BIGINT) AS iso_year,
       CAST(EXTRACT(week FROM o_orderdate) AS BIGINT) AS iso_week,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY 1, 2
"""


@query("weekly_rollup_iso", oracle=_ISOWEEK_ORACLE, tags=("temporal",))
def weekly_rollup_iso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 weekly rollup — the calendar probe that bites at YEAR
    BOUNDARIES: Dec 31 can belong to week 1 of the NEXT iso year and
    Jan 1 to week 52 of the previous (both present in this date
    domain), so grouping by (calendar year, week) double-counts
    boundary weeks. Spark's YEAROFWEEK/weekofyear and DuckDB's
    isoyear/week agree exactly (probed; their DAY-of-week epochs do
    NOT — Spark 1=Sunday vs isodow 1=Monday — which is why the rollup
    keys on year+week only)."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy(
        F.expr("extract(YEAROFWEEK FROM o_orderdate)")
        .cast("bigint")
        .alias("iso_year"),
        F.weekofyear("o_orderdate").cast("bigint").alias("iso_week"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


NULLORD_TOP_K = 50

_NULLORD_ORACLE = f"""
SELECT CAST(ROW_NUMBER() OVER (ORDER BY value ASC NULLS LAST, event_id)
            AS BIGINT) AS rnk,
       event_id,
       CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_x100
FROM events
ORDER BY rnk
LIMIT {NULLORD_TOP_K}
"""


@query("null_ordering_probe", oracle=_NULLORD_ORACLE, tags=("conformance",))
def null_ordering_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-ordering conformance: engines DEFAULT differently (Spark
    ASC = NULLS FIRST, DuckDB ASC = NULLS LAST — registry rule 3), so
    portable ordered output must say NULLS LAST explicitly; this probe
    pins the explicit form end to end through a rank + top-k. The
    nullable value column is ranked with an id tie-break; NULL values
    rank after every real value on both engines. Scale shape (r7,
    global-window lint): take the top-k FIRST via orderBy+limit —
    Spark plans a distributed TakeOrderedAndProject, each partition
    keeps k rows, no global sort — then rank the bounded k-row frame
    with the same NULLS LAST order; identical output to ranking first
    and limiting after."""
    ev = load(spark, sf_dir, "events")
    order = [F.col("value").asc_nulls_last(), F.col("event_id").asc()]
    top = ev.select("event_id", "value").orderBy(*order).limit(NULLORD_TOP_K)
    w = Window.orderBy(*order)
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rnk"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("value_x100"),
    )


# ---------------------------------------------------------------------------
# EWMA over daily event counts — integer-exact truncated exponential decay
# ---------------------------------------------------------------------------

_EWMA_TERMS = 16  # alpha = 1/2, truncated at 16 lags (weight 2^15 .. 1)

_EWMA_LAG_SQL = " + ".join(
    f"COALESCE(LAG(c, {j}) OVER w, 0) * {1 << (_EWMA_TERMS - 1 - j)}"
    for j in range(_EWMA_TERMS)
)
_EWMA_DEN_SQL = " + ".join(
    f"(CASE WHEN LAG(c, {j}) OVER w IS NOT NULL "
    f"THEN {1 << (_EWMA_TERMS - 1 - j)} ELSE 0 END)"
    for j in range(_EWMA_TERMS)
)

_EWMA_ORACLE = f"""
WITH daily AS (
    SELECT EPOCH_US(ts) // 86400000000 AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1
),
w AS (
    SELECT day, c,
           CAST({_EWMA_LAG_SQL} AS BIGINT) AS ewma_num,
           CAST({_EWMA_DEN_SQL} AS BIGINT) AS ewma_den
    FROM daily WINDOW w AS (ORDER BY day)
)
SELECT day, c, ewma_num, ewma_den,
       (ewma_num * 1000000) // ewma_den AS ewma_ppm
FROM w
"""


@query("ewma_daily_events", oracle=_EWMA_ORACLE, tags=("temporal", "stats"))
def ewma_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 1/2) of the daily
    event count, integer-exact: the recursion S_d = c_d/2 + S_{d-1}/2
    is unrolled to its closed form over the last 16 observed days with
    power-of-two weights (2^15 down to 1 — beyond 16 lags the
    contribution is below one part in 2^16, i.e. truncation is the
    fixed-point rounding), so numerator and denominator are exact
    BIGINTs and the emitted ppm ratio is integral division — no
    recursive state, no float accumulation drift. All 16 LAGs run in
    ONE WindowExec over the aggregated ~O(days) frame (aggregate
    first, window second — the monthly_revenue_mom discipline)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(day_bucket().alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    daily.createOrReplaceTempView("__ewma_daily")
    return spark.sql(f"""
        SELECT day, c, ewma_num, ewma_den,
               (ewma_num * 1000000) div ewma_den AS ewma_ppm
        FROM (
            SELECT day, c,
                   CAST({_EWMA_LAG_SQL} AS BIGINT) AS ewma_num,
                   CAST({_EWMA_DEN_SQL} AS BIGINT) AS ewma_den
            FROM __ewma_daily WINDOW w AS (ORDER BY day)
        )
    """)


# ---------------------------------------------------------------------------
# PERCENTILE_DISC vs PERCENTILE_CONT conformance probe
# ---------------------------------------------------------------------------

_PCTL_ORACLE = """
WITH vals AS (
    SELECT l_returnflag AS flag, l_quantity AS q FROM lineitem
),
disc AS (
    SELECT flag, MIN(q) AS p50_disc FROM (
        SELECT flag, q,
               SUM(cnt) OVER (PARTITION BY flag ORDER BY q) AS cum,
               SUM(cnt) OVER (PARTITION BY flag) AS n
        FROM (SELECT flag, q, COUNT(*) AS cnt FROM vals GROUP BY 1, 2)
    ) WHERE 2 * cum >= n GROUP BY flag
),
cont AS (
    SELECT flag, QUANTILE_CONT(q, 0.5) AS p50_cont,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM vals GROUP BY flag
)
SELECT d.flag, c.n, d.p50_disc, c.p50_cont,
       (d.p50_disc <> c.p50_cont) AS diverges
FROM disc d JOIN cont c ON d.flag = c.flag
"""


@query(
    "percentile_disc_cont_probe",
    oracle=_PCTL_ORACLE,
    tags=("temporal", "conformance"),
)
def percentile_disc_cont_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_DISC vs PERCENTILE_CONT conformance: the two medians
    differ whenever a group has an even count with distinct middle
    values, and engines default differently (many report CONT for
    "median") — a silent correctness trap when porting SQL. CONT is
    pinned engine-native on both sides (Spark percentile() vs DuckDB
    QUANTILE_CONT, both the h = (n-1)p linear interpolation; parity
    proves the definitions agree bit-for-bit on these inputs — the
    (a+b)/2 midpoint is one exact IEEE operation on 2dp-decimal
    doubles). DISC is computed from the SAME cumulative-count
    definition on both sides (first value whose cumulative count
    reaches half), aggregated to (value, count) FIRST so the window
    runs over distinct values, not events."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), F.col("l_quantity").alias("q")
    )
    from pyspark.sql import Window

    counts = li.groupBy("flag", "q").agg(F.count(F.lit(1)).alias("cnt"))
    cum = counts.withColumn(
        "cum",
        F.sum("cnt").over(Window.partitionBy("flag").orderBy("q")),
    ).withColumn("n", F.sum("cnt").over(Window.partitionBy("flag")))
    disc = (
        cum.filter(2 * F.col("cum") >= F.col("n"))
        .groupBy("flag")
        .agg(F.min("q").alias("p50_disc"))
    )
    cont = li.groupBy("flag").agg(
        F.expr("percentile(q, 0.5)").alias("p50_cont"),
        F.count(F.lit(1)).alias("n"),
    )
    return disc.join(cont, "flag").select(
        "flag",
        "n",
        "p50_disc",
        "p50_cont",
        (F.col("p50_disc") != F.col("p50_cont")).alias("diverges"),
    )


_IGNORE_NULLS_ORACLE = """
WITH ev AS (
    SELECT event_id, user_id, EPOCH_US(ts) AS ts_us,
           CASE WHEN event_type = 'purchase' THEN value END AS pv
    FROM events
)
SELECT event_id, user_id,
       LAST_VALUE(pv IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS last_purchase_value,
       FIRST_VALUE(pv IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS first_purchase_value
FROM ev
"""


@query(
    "window_ignore_nulls_probe",
    oracle=_IGNORE_NULLS_ORACLE,
    tags=("temporal", "conformance"),
)
def window_ignore_nulls_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window conformance — the LOCF idiom (carry the last
    purchase value forward across non-purchase events) and its
    first-seen dual, pinned cross-engine: Spark spells it last(x,
    ignorenulls)/first(x, ignorenulls) OVER a running ROWS frame,
    DuckDB LAST_VALUE(x IGNORE NULLS)/FIRST_VALUE(...). Rows before a
    user's first purchase stay NULL in both (no default leaks in), and
    the deterministic (ts, event_id) order makes the carried value
    unambiguous under duplicate timestamps. Both functions share ONE
    user-partitioned WindowExec."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts_us",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("pv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.last("pv", ignorenulls=True).over(w).alias("last_purchase_value"),
        F.first("pv", ignorenulls=True).over(w).alias("first_purchase_value"),
    )


_ASOF_TOL_US = 3_600_000_000  # 1 hour

_ASOF_TOL_ORACLE = f"""
WITH ev AS (
    SELECT event_id, user_id, EPOCH_US(ts) AS ts_us, event_type
    FROM events WHERE event_type IN ('purchase', 'click')
),
w AS (
    SELECT event_id, user_id, ts_us, event_type,
           LAST_VALUE(CASE WHEN event_type = 'click' THEN ts_us END
                      IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_ts,
           LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END
                      IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_id,
           FIRST_VALUE(CASE WHEN event_type = 'click' THEN ts_us END
                       IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
           ) AS next_ts,
           FIRST_VALUE(CASE WHEN event_type = 'click' THEN event_id END
                       IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
           ) AS next_id
    FROM ev
)
SELECT event_id AS purchase_id, user_id, ts_us,
       CASE WHEN ts_us - prev_ts <= {_ASOF_TOL_US} THEN prev_id END
           AS prev_click_id,
       CASE WHEN ts_us - prev_ts <= {_ASOF_TOL_US} THEN ts_us - prev_ts END
           AS prev_gap_us,
       CASE WHEN next_ts - ts_us <= {_ASOF_TOL_US} THEN next_id END
           AS next_click_id,
       CASE WHEN next_ts - ts_us <= {_ASOF_TOL_US} THEN next_ts - ts_us END
           AS next_gap_us
FROM w WHERE event_type = 'purchase'
"""


@query(
    "asof_join_tolerance",
    oracle=_ASOF_TOL_ORACLE,
    tags=("temporal", "join"),
)
def asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, BOTH directions with a staleness tolerance (the full
    pandas merge_asof surface: direction backward/forward, tolerance
    1h): every purchase gets its nearest strictly-earlier click AND its
    nearest strictly-later click by the same user, each nulled when the
    gap exceeds the tolerance. Same scale form as asof_join_events —
    one union + one user-keyed WindowExec (all four IGNORE NULLS
    carries share it), never an inequality join; the tolerance is a
    post-filter, costing nothing. The (ts, event_id) order makes
    same-timestamp races deterministic; 'strictly earlier/later' is
    row-order strict (the 1 PRECEDING / 1 FOLLOWING frame bounds),
    matching merge_asof(allow_exact_matches=False)."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    ).select("event_id", "user_id", "ts_us", "event_type")
    click_ts = F.when(F.col("event_type") == "click", F.col("ts_us"))
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    tol = F.lit(_ASOF_TOL_US)
    out = ev.select(
        "event_id",
        "user_id",
        "ts_us",
        "event_type",
        F.last(click_ts, ignorenulls=True).over(wb).alias("prev_ts"),
        F.last(click_id, ignorenulls=True).over(wb).alias("prev_id"),
        F.first(click_ts, ignorenulls=True).over(wf).alias("next_ts"),
        F.first(click_id, ignorenulls=True).over(wf).alias("next_id"),
    ).filter(F.col("event_type") == "purchase")
    prev_ok = (F.col("ts_us") - F.col("prev_ts")) <= tol
    next_ok = (F.col("next_ts") - F.col("ts_us")) <= tol
    return out.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "ts_us",
        F.when(prev_ok, F.col("prev_id")).alias("prev_click_id"),
        F.when(prev_ok, F.col("ts_us") - F.col("prev_ts")).alias("prev_gap_us"),
        F.when(next_ok, F.col("next_id")).alias("next_click_id"),
        F.when(next_ok, F.col("next_ts") - F.col("ts_us")).alias("next_gap_us"),
    )


_TREND_K = 20

_TREND_ORACLE = f"""
WITH pur AS (
    SELECT user_id % 200 AS item,
           EPOCH_US(ts) // 86400000000 AS day
    FROM events WHERE event_type = 'purchase'
),
last_day AS (SELECT MAX(day) AS d FROM pur),
-- decayed weight: halve per day of age, truncated at 16 days
w AS (
    SELECT item,
           CAST(SUM(CASE WHEN last_day.d - day BETWEEN 0 AND 15
                         THEN 1 << CAST(15 - (last_day.d - day) AS INT)
                         ELSE 0 END) AS BIGINT) AS decayed_x32768
    FROM pur, last_day GROUP BY item
)
SELECT item, decayed_x32768, CAST(rank AS BIGINT) AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (
        ORDER BY decayed_x32768 DESC, item ASC) AS rank
    FROM w WHERE decayed_x32768 > 0
) WHERE rank <= {_TREND_K}
"""


@query("trending_items_decay", oracle=_TREND_ORACLE, tags=("temporal",))
def trending_items_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items: purchase counts under exponential time decay
    (alpha = 1/2 per day, truncated at 16 days — the T188 closed form),
    then global top-{_TREND_K} — 'what is hot NOW' rather than all-time
    popularity, the freshness-ranking shape of every feed/recommender.
    Weights are exact integers (1 << age-remaining), the per-item fold
    is one partial-aggregable SUM (no window over raw events), and the
    bounded top-k goes through the reducer-bounded salted two-phase —
    never a global sort of the item domain."""
    from c3dc_etl_spark.operators.skew import salted_topk

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    pur = ev.select(
        (F.col("user_id") % 200).alias("item"),
        day_bucket().alias("day"),
    )
    last_day = pur.agg(F.max("day")).first()[0]  # bounded scalar
    age = F.lit(int(last_day)) - F.col("day")
    weight = F.when(
        age.between(0, 15),
        F.expr("shiftleft(1L, CAST(15 - (" + str(int(last_day)) + " - day) AS INT))"),
    ).otherwise(F.lit(0))
    w = (
        pur.select("item", weight.alias("wt"))
        .groupBy("item")
        .agg(F.sum("wt").alias("decayed_x32768"))
        .filter(F.col("decayed_x32768") > 0)
    )
    top = salted_topk(
        w,
        [],
        [F.col("decayed_x32768").desc(), F.col("item").asc()],
        _TREND_K,
        salt=F.xxhash64("item"),
        rank_col="rank",
    )
    return top.select("item", "decayed_x32768", F.col("rank").cast("bigint").alias("rank"))


_MARKOV_EVAL_ORACLE = """
WITH seq AS (
    SELECT event_type AS cur,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY EPOCH_US(ts), event_id
           ) AS nxt
    FROM events
),
pairs AS (SELECT cur, nxt FROM seq WHERE nxt IS NOT NULL),
t AS (
    SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
    FROM pairs GROUP BY 1, 2
),
pred AS (
    SELECT cur, nxt AS predicted FROM (
        SELECT cur, nxt,
               ROW_NUMBER() OVER (
                   PARTITION BY cur ORDER BY c DESC, nxt ASC) AS rn
        FROM t
    ) WHERE rn = 1
)
SELECT p.cur,
       MIN(pr.predicted) AS predicted,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(SUM(CASE WHEN p.nxt = pr.predicted THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits
FROM pairs p JOIN pred pr USING (cur)
GROUP BY p.cur
"""


@query(
    "markov_next_event_eval",
    oracle=_MARKOV_EVAL_ORACLE,
    tags=("temporal", "ml"),
)
def markov_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction baseline, trained AND evaluated in one
    plan: the majority-successor rule per current state (argmax of the
    T115 transition counts, deterministic (count desc, type asc)
    tie-break) is scored against every observed transition — per-state
    prediction, transition volume, and hit count, i.e. the
    top-1-accuracy table any sequence model must beat. The eval join
    broadcasts the |types|-row rule table back onto the pair stream;
    the heavy inputs see one user-keyed sequence window and one
    map-side-combined count, nothing else."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts_us"
    )
    seq = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc()
    )
    pairs = (
        ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(seq).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
    )
    t = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
    rn = Window.partitionBy("cur").orderBy(
        F.col("c").desc(), F.col("nxt").asc()
    )
    pred = (
        t.withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select("cur", F.col("nxt").alias("predicted"))
    )
    return (
        pairs.join(F.broadcast(pred), "cur")
        .groupBy("cur")
        .agg(
            F.min("predicted").alias("predicted"),
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum(
                F.when(F.col("nxt") == F.col("predicted"), 1).otherwise(0)
            ).alias("n_hits"),
        )
    )


_KM_ORACLE = """
WITH RECURSIVE per_user AS (
    SELECT user_id,
           MIN(EPOCH_US(ts)) // 86400000000 AS d0,
           MAX(EPOCH_US(ts)) // 86400000000 AS dmax,
           MIN(CASE WHEN event_type = 'error' THEN EPOCH_US(ts) END)
               // 86400000000 AS derr
    FROM events GROUP BY user_id
),
spans AS (
    SELECT user_id,
           CASE WHEN derr IS NOT NULL THEN derr - d0 ELSE dmax - d0 END
               AS dur,
           CASE WHEN derr IS NOT NULL THEN 1 ELSE 0 END AS observed
    FROM per_user
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM spans),
by_dur AS (
    SELECT dur,
           CAST(COUNT(*) AS BIGINT) AS n_leaving,
           CAST(SUM(observed) AS BIGINT) AS n_events
    FROM spans GROUP BY dur
),
risk AS (
    SELECT dur, n_events,
           total.n - COALESCE(SUM(n_leaving) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS n_at_risk
    FROM by_dur, total
),
terms AS (
    SELECT CAST(dur AS BIGINT) AS dur,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           n_events,
           ROW_NUMBER() OVER (ORDER BY dur) AS rn
    FROM risk WHERE n_events > 0 AND n_events < n_at_risk
),
km AS (
    SELECT rn, dur, n_at_risk, n_events,
           CAST((2 * CAST(1000000000 AS HUGEINT) * (n_at_risk - n_events)
                 + n_at_risk) // (2 * n_at_risk) AS BIGINT) AS survival_n9
    FROM terms WHERE rn = 1
    UNION ALL
    SELECT t.rn, t.dur, t.n_at_risk, t.n_events,
           CAST((2 * CAST(km.survival_n9 AS HUGEINT)
                 * (t.n_at_risk - t.n_events)
                 + t.n_at_risk) // (2 * t.n_at_risk) AS BIGINT)
               AS survival_n9
    FROM terms t JOIN km ON t.rn = km.rn + 1
)
SELECT dur, n_at_risk, n_events, survival_n9 FROM km
"""


@query(
    "survival_kaplan_meier",
    oracle=_KM_ORACLE,
    tags=("temporal", "stats"),
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator over time-to-first-error per
    user (right-censored at the user's last observed event) — the
    clinical-analytics statistic the reference domain (C3DC survival
    records, A1) ultimately feeds. Per event-duration: risk set,
    events, and the KM product Π(1 − d/n). Determinism (r7 verdict,
    third attempt): the hashed path is now 100% LIBM-FREE. The two
    prior rounds pinned ln/exp ever harder (nano-unit integerization of
    each ln factor) and still hash-failed on the driver — JVM
    StrictMath vs host libm can disagree by an ulp on ln(1 - d/n),
    which a 0.5e-9 absolute pin cannot absorb. Following the T142 BM25
    discipline (operators/search.py: rational idf), the KM product is
    carried as an EXACT INTEGER at 1e-9 scale with half-up per-step
    quantization: s_0 = 1e9; s_k = (2*s_{k-1}*(n_k-d_k) + n_k) //
    (2*n_k). Every operation is integer +,*,//, bit-identical across
    engines; the hashed `survival_n9` column is a BIGINT. The DuckDB
    oracle runs the same recurrence via WITH RECURSIVE (HUGEINT
    intermediates); the Spark side runs it as a driver-side loop over
    the collected term table — bounded by the DISTINCT-DURATION domain
    (calendar days spanned by the dataset, not row volume), the same
    bounded-scalar-collect discipline as the BPE merge loop. Spark's
    double→bigint cast truncates
    toward zero while DuckDB's rounds half-even — another reason no
    float ever reaches a hashed column here. Risk sets come from
    grouped duration counts + a cumulative window over the tiny
    duration domain, never a per-user-pair comparison."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.expr("min(ts_us) div 86400000000").alias("d0"),
        F.expr("max(ts_us) div 86400000000").alias("dmax"),
        F.expr(
            "min(CASE WHEN event_type = 'error' THEN ts_us END)"
            " div 86400000000"
        ).alias("derr"),
    )
    spans = per_user.select(
        F.when(
            F.col("derr").isNotNull(), F.col("derr") - F.col("d0")
        ).otherwise(F.col("dmax") - F.col("d0")).alias("dur"),
        F.when(F.col("derr").isNotNull(), 1).otherwise(0).alias("observed"),
    )
    total = spans.count()  # bounded scalar
    by_dur = spans.groupBy("dur").agg(
        F.count(F.lit(1)).alias("n_leaving"),
        F.sum("observed").alias("n_events"),
    )
    wprev = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = by_dur.select(
        "dur",
        "n_events",
        (
            F.lit(total)
            - F.coalesce(F.sum("n_leaving").over(wprev), F.lit(0))
        ).alias("n_at_risk"),
    )
    terms = risk.filter(
        (F.col("n_events") > 0) & (F.col("n_events") < F.col("n_at_risk"))
    ).select(
        F.col("dur").cast("bigint").alias("dur"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )
    # Bounded driver loop: one row per distinct duration (calendar-day
    # span of the dataset), exact Python-int recurrence matching the
    # oracle's WITH RECURSIVE HUGEINT arithmetic bit-for-bit.
    rows = sorted(
        ((r["dur"], r["n_at_risk"], r["n_events"]) for r in terms.collect()),
    )
    out, s = [], 1_000_000_000
    for dur, n, d in rows:
        s = (2 * s * (n - d) + n) // (2 * n)
        out.append((dur, n, d, s))
    return spark.createDataFrame(
        out,
        schema="dur bigint, n_at_risk bigint, n_events bigint, "
        "survival_n9 bigint",
    )
