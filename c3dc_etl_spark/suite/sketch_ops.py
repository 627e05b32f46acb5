"""Deterministic cardinality sketch (KMV / k-minimum-values).

``approx_count_distinct`` (HyperLogLog++) is the built-in answer, but
its estimates are engine-internal and cannot be value-hash-verified
against another engine. KMV is the oracle-friendly sketch: hash every
value with the portable 32-bit md5 hash, keep the k smallest DISTINCT
hash values, and estimate the cardinality as (k-1) / r_k where r_k is
the k-th minimum normalized to [0, 1). Same hash -> same k minima ->
bit-identical estimate in Spark and DuckDB — a sketch whose ACCURACY
contract is testable, not just its output shape.

Scale design: the k-minima selection is the classic mergeable-sketch
shape — per-partition partial minima merge associatively. Here it runs
as a two-phase ranked selection (salted local top-k, then a global
top-k over <= salt_buckets * k survivor rows per key), the same
reducer-bounded pattern as cosine_topk: no key ever sees more than
salt_buckets * k rows in one task, and the distinct() before ranking
carries narrow (key, int) pairs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from c3dc_etl_spark.operators.dedup import hash32
from c3dc_etl_spark.operators.skew import salted_topk
from c3dc_etl_spark.suite.registry import load, query

K = 64
SALT_BUCKETS = 16
HASH_SPACE = float(1 << 32)

_KMV_ORACLE = f"""
WITH pairs AS (
    SELECT DISTINCT event_type,
           CAST(CONCAT('0x', SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))
                AS BIGINT) AS h
    FROM events
),
ranked AS (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM pairs
),
kth AS (
    SELECT event_type, MAX(h) AS kth_min
    FROM ranked WHERE rn <= {K}
    GROUP BY 1
),
nd AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_distinct FROM pairs GROUP BY 1
)
SELECT event_type,
       n_distinct AS n_distinct_exact,
       CAST(kth_min AS BIGINT) AS kth_min,
       CAST(CASE WHEN n_distinct <= {K} THEN n_distinct * 100
                 ELSE FLOOR({K - 1}.0 * {HASH_SPACE!r} / kth_min * 100 + 0.5)
            END AS BIGINT) AS est_centi
FROM nd JOIN kth USING (event_type)
"""


@query("sketch_kmv_distinct", oracle=_KMV_ORACLE, tags=("sketch", "dedup"))
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user estimate per event_type, next to the exact
    count so the hash pins BOTH the sketch mechanics (the k-th minimum
    hash, exact integer) and the estimate (fixed-point centi units,
    IEEE-identical in both engines). Groups with <= k distinct values
    degrade to the exact count, as a real KMV does."""
    ev = load(spark, sf_dir, "events")
    pairs = ev.select(
        "event_type", hash32(F.col("user_id").cast("string")).alias("h")
    ).distinct()
    topk = salted_topk(
        pairs,
        ["event_type"],
        [F.col("h").asc()],
        K,
        salt=F.col("h"),
        n_salt=SALT_BUCKETS,
    )
    kth = topk.groupBy("event_type").agg(F.max("h").alias("kth_min"))
    nd = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_exact")
    )
    est = F.when(
        F.col("n_distinct_exact") <= K, F.col("n_distinct_exact") * 100
    ).otherwise(
        F.floor(
            F.lit(float(K - 1)) * F.lit(HASH_SPACE) / F.col("kth_min") * 100
            + F.lit(0.5)
        )
    )
    return nd.join(kth, "event_type").select(
        "event_type",
        "n_distinct_exact",
        F.col("kth_min").cast("bigint").alias("kth_min"),
        est.cast("bigint").alias("est_centi"),
    )


# --------------------------------------------------------------------------
# Histogram-quantile estimation error (the quantile analogue of the KMV /
# minhash / CMS "approximate is measured" family)
# --------------------------------------------------------------------------

HIST_BUCKETS = 64
QUANTILE_PS = (50, 90, 99)  # percent


def _hist_quantile_oracle() -> str:
    per_p = []
    for p in QUANTILE_PS:
        frac = p / 100.0
        per_p.append(f"""
    SELECT CAST({p} AS BIGINT) AS p_pct,
           (SELECT ROUND(mn + (h.bucket + ({frac} * n - h.cum_prev) / h.cnt)
                         * ((mx - mn) / {HIST_BUCKETS}.0), 4)
            FROM hist h, bounds
            WHERE h.cum >= {frac} * n
            ORDER BY h.bucket LIMIT 1) AS est,
           (SELECT ROUND(QUANTILE_CONT(value, {frac}), 4) FROM events) AS exact
    """)
    body = "\nUNION ALL\n".join(per_p)
    return f"""
WITH bounds AS (
    SELECT MIN(value) AS mn, MAX(value) AS mx,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
),
bucketed AS (
    SELECT LEAST(CAST(FLOOR((value - mn) / ((mx - mn) / {HIST_BUCKETS}.0))
                      AS BIGINT), {HIST_BUCKETS - 1}) AS bucket
    FROM events, bounds
),
hist AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(COUNT(*)) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum,
           CAST(SUM(COUNT(*)) OVER (ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - COUNT(*) AS BIGINT) AS cum_prev
    FROM bucketed GROUP BY bucket
)
SELECT p_pct, est, exact, ROUND(ABS(est - exact), 4) AS abs_err
FROM ({body}) t
"""


@query(
    "quantile_sketch_error",
    oracle=_hist_quantile_oracle(),
    tags=("sketch", "measurement"),
)
def quantile_sketch_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width-histogram quantile estimation, measured against the
    exact percentile: a {HIST_BUCKETS}-cell histogram (fixed size
    regardless of input, mergeable by cell addition — the shard-and-
    merge path at 100 TB) estimates p50/p90/p99 by cumulative-count
    interpolation; the pinned |est - exact| makes bucket-count or
    interpolation regressions visible. The histogram build is one
    partial-agg exchange to <= {HIST_BUCKETS} groups; the cum-sum
    window runs over the {HIST_BUCKETS}-row histogram, not the data.
    The exact side materializes the value list (documented scale
    tradeoff, same as domain_length_quantiles: swap approx_percentile
    at 100 TB); value bounds and n are a bounded 1-row collect."""
    ev = load(spark, sf_dir, "events")
    b = ev.agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    mn, mx, n = b["mn"], b["mx"], b["n"]
    schema = "p_pct bigint, est double, exact double, abs_err double"
    if n == 0:
        return spark.createDataFrame([], schema)
    if mn == mx:
        # degenerate single-point domain: every quantile is exactly mn;
        # the equi-width bucket expression would divide by zero
        rows = [(int(p), float(mn), float(mn), 0.0) for p in QUANTILE_PS]
        return spark.createDataFrame(rows, schema)
    width = (mx - mn) / float(HIST_BUCKETS)
    hist = (
        ev.select(
            F.least(
                F.floor((F.col("value") - mn) / width),
                F.lit(HIST_BUCKETS - 1),
            )
            .cast("bigint")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wc = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hist = hist.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(wc).cast("bigint").alias("cum"),
        (F.sum("cnt").over(wc) - F.col("cnt")).cast("bigint").alias("cum_prev"),
    )
    exacts = ev.agg(
        *[
            F.round(F.expr(f"percentile(value, {p / 100.0})"), 4).alias(f"e{p}")
            for p in QUANTILE_PS
        ]
    ).collect()[0]
    out = None
    for p in QUANTILE_PS:
        frac = p / 100.0
        target = frac * n
        est = (
            hist.filter(F.col("cum") >= target)
            .orderBy("bucket")
            .limit(1)
            .select(
                F.lit(p).cast("bigint").alias("p_pct"),
                F.round(
                    mn
                    + (
                        F.col("bucket")
                        + (F.lit(target) - F.col("cum_prev")) / F.col("cnt")
                    )
                    * width,
                    4,
                ).alias("est"),
                F.lit(float(exacts[f"e{p}"])).alias("exact"),
            )
        )
        out = est if out is None else out.unionByName(est)
    return out.select(
        "p_pct",
        "est",
        "exact",
        F.round(F.abs(F.col("est") - F.col("exact")), 4).alias("abs_err"),
    )


# --------------------------------------------------------------------------
# Exact global order statistic WITHOUT a global sort: iterative range
# narrowing (distributed selection)
# --------------------------------------------------------------------------

_MEDIAN_ORACLE = """
WITH c AS (
    SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
    FROM lineitem WHERE l_extendedprice IS NOT NULL
),
r AS (
    SELECT cents,
           ROW_NUMBER() OVER (ORDER BY cents) AS rn,
           COUNT(*) OVER () AS n_rows
    FROM c
)
SELECT CAST(n_rows AS BIGINT) AS n_rows, cents AS median_cents
FROM r WHERE rn = (n_rows + 1) // 2
"""


@query(
    "exact_median_selection",
    oracle=_MEDIAN_ORACLE,
    tags=("sketch", "selection"),
)
def exact_median_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median (lower order statistic, k = ceil(n/2)) by
    distributed selection — iterated histogram refinement on the VALUE
    domain (operators/selection.py): each round one <=1024-group
    partial-agg histogram over a checkpointed single-column frame narrows
    [lo, hi] by a factor of 1024 — never a global sort, never a single
    task holding the data, never materializing values on one node (the
    scale failure of sort-based exact quantiles; the oracle's ORDER
    BY/OFFSET is exactly the shape this query exists to avoid). Values
    are exact integer cents, so termination and the result are
    deterministic. Driver traffic: <=16 KB of bucket counts per round,
    ceil(log1024(range)) = 3 rounds at this domain width (the r1-r8
    bisection form was ~25 sequential count jobs)."""
    li = load(spark, sf_dir, "lineitem")
    # NULLs are excluded on BOTH sides (a count-based search over a
    # population that includes rows its filters never see would
    # converge to the wrong order statistic)
    cents = (
        li.filter(F.col("l_extendedprice").isNotNull()).select(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents")
        )
    ).localCheckpoint(eager=True)
    row = cents.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
    ).collect()[0]
    n, lo, hi = row["n"], row["lo"], row["hi"]
    if n == 0:  # empty input: 0 rows, like the oracle's empty rank set
        return spark.range(0).select(
            F.lit(0).cast("bigint").alias("n_rows"),
            F.lit(0).cast("bigint").alias("median_cents"),
        )
    k = (n + 1) // 2  # lower median, 1-indexed
    med = _select_kth(cents, k, lo, hi)
    return spark.range(1).select(
        F.lit(n).cast("bigint").alias("n_rows"),
        F.lit(med).cast("bigint").alias("median_cents"),
    )


# --------------------------------------------------------------------------
# Cross-engine-exact HyperLogLog (raw estimator, integer-scaled registers)
# --------------------------------------------------------------------------

HLL_P = 4  # 2^4 = 16 registers; alpha_16 = 0.673 (Flajolet et al. 2007)
HLL_M = 1 << HLL_P
HLL_WBITS = 32 - HLL_P  # low bits that feed the rank-of-first-one
HLL_MAXRHO = HLL_WBITS + 1
HLL_ALPHA = "0.673"
# alpha * m^2 * 2^MAXRHO as an exactly-representable double literal
HLL_NUM = float(HLL_M * HLL_M) * float(1 << HLL_MAXRHO)

_HLL_ORACLE = f"""
WITH pairs AS (
    SELECT DISTINCT event_type,
           CAST(CONCAT('0x', SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))
                AS BIGINT) AS h
    FROM events
),
ranked AS (
    SELECT event_type,
           h // {1 << HLL_WBITS} AS reg,
           CASE WHEN h % {1 << HLL_WBITS} = 0 THEN {HLL_MAXRHO}
                ELSE {HLL_WBITS} - LENGTH(printf('%b', h % {1 << HLL_WBITS})) + 1
           END AS rho
    FROM pairs
),
regs AS (
    SELECT event_type, reg, MAX(rho) AS m_j
    FROM ranked GROUP BY event_type, reg
),
scaled AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_regs,
           CAST(SUM(CAST(1 AS BIGINT) << ({HLL_MAXRHO} - m_j)) AS BIGINT)
               AS s_present
    FROM regs GROUP BY event_type
),
nd AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_distinct FROM pairs
    GROUP BY event_type
)
SELECT s.event_type,
       nd.n_distinct AS n_distinct_exact,
       s.n_regs,
       CAST(s.s_present
            + ({HLL_M} - s.n_regs) * CAST({1 << HLL_MAXRHO} AS BIGINT)
            AS BIGINT) AS sum_scaled,
       CAST(FLOOR({HLL_ALPHA} * {HLL_NUM!r}
                  / (s.s_present
                     + ({HLL_M} - s.n_regs) * CAST({1 << HLL_MAXRHO} AS BIGINT))
                  * 100 + 0.5) AS BIGINT) AS est_centi
FROM scaled s JOIN nd ON s.event_type = nd.event_type
"""


@query("sketch_hll_distinct", oracle=_HLL_ORACLE, tags=("sketch", "dedup"))
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event_type, engineered for
    cross-engine EXACTNESS: registers come from the portable md5 fold
    (top {HLL_P} bits -> register, rank-of-first-one over the low
    {HLL_WBITS} bits via minimal-binary-string length — pure integer/
    string ops), and the harmonic mean's 2^-M_j terms are summed as
    SCALED INTEGERS (2^(maxrho - M_j)), so the only floating-point in
    the whole estimator is one multiply and one divide from exact
    operands — Spark's approx_count_distinct is the same algorithm but
    engine-internal and unverifiable. RAW estimator only: the
    small-range linear-counting correction needs ln(), whose last ulp
    is libm-dependent, so production use layers it outside the
    value-hashed core (the pinned sum_scaled/n_regs columns carry the
    full register state it would need). Scale: the register table is
    {HLL_M} rows per group REGARDLESS of input — the canonical
    mergeable sketch (merge = elementwise register MAX); one exchange
    to (group, reg), partials map-side."""
    ev = load(spark, sf_dir, "events")
    # checkpoint: the distinct (a full exchange of events) feeds both the
    # register chain and the exact-count aggregate
    pairs = (
        ev.select(
            "event_type", hash32(F.col("user_id").cast("string")).alias("h")
        ).distinct()
    ).localCheckpoint(eager=True)
    wmod = F.pmod(F.col("h"), F.lit(1 << HLL_WBITS))
    ranked = pairs.select(
        "event_type",
        F.expr(f"h div {1 << HLL_WBITS}").alias("reg"),
        F.when(wmod == 0, F.lit(HLL_MAXRHO))
        .otherwise(F.lit(HLL_WBITS) - F.length(F.bin(wmod)) + 1)
        .alias("rho"),
    )
    regs = ranked.groupBy("event_type", "reg").agg(F.max("rho").alias("m_j"))
    scaled = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_regs"),
        # SQL form: the Python shiftleft() helper takes a literal bit
        # count, not a Column
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {HLL_MAXRHO} - m_j)"))
        .cast("bigint")
        .alias("s_present"),
    )
    nd = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_exact")
    )
    sum_scaled = (
        F.col("s_present")
        + (F.lit(HLL_M) - F.col("n_regs")) * F.lit(1 << HLL_MAXRHO).cast("bigint")
    ).cast("bigint")
    return scaled.join(nd, "event_type").select(
        "event_type",
        "n_distinct_exact",
        "n_regs",
        sum_scaled.alias("sum_scaled"),
        F.floor(
            F.lit(float(HLL_ALPHA)) * F.lit(HLL_NUM) / sum_scaled * 100
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("est_centi"),
    )


# --------------------------------------------------------------------------
# KMV sketch ALGEBRA: union / intersection cardinalities from two
# sketches (no re-scan of the raw data at combine time)
# --------------------------------------------------------------------------

KMV_A = "click"
KMV_B = "purchase"

_KMV_ALGEBRA_ORACLE = f"""
WITH pairs AS (
    SELECT DISTINCT event_type,
           CAST(CONCAT('0x', SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))
                AS BIGINT) AS h
    FROM events
    WHERE event_type IN ('{KMV_A}', '{KMV_B}')
),
mins AS (
    SELECT event_type, h,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM pairs
),
sk AS (SELECT event_type, h FROM mins WHERE rn <= {K}),
u AS (
    SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
    FROM (SELECT DISTINCT h FROM sk)
),
uk AS (SELECT h FROM u WHERE rn <= {K}),
stats AS (
    SELECT MAX(uk.h) AS kth_union,
           CAST(COUNT(*) AS BIGINT) AS n_sketch,
           CAST(SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_both
    FROM uk
    LEFT JOIN (SELECT h FROM sk WHERE event_type = '{KMV_A}') a ON uk.h = a.h
    LEFT JOIN (SELECT h FROM sk WHERE event_type = '{KMV_B}') b ON uk.h = b.h
),
exact AS (
    SELECT
        CAST(COUNT(DISTINCT h) AS BIGINT) AS exact_union,
        CAST(COUNT(DISTINCT CASE WHEN cnt = 2 THEN h END) AS BIGINT)
            AS exact_intersect
    FROM (SELECT h, COUNT(DISTINCT event_type) AS cnt FROM pairs GROUP BY h)
)
SELECT e.exact_union, e.exact_intersect, s.n_both,
       CAST(CASE WHEN s.n_sketch < {K} THEN s.n_sketch * 100
                 ELSE FLOOR({K - 1}.0 * {HASH_SPACE!r} / s.kth_union * 100
                            + 0.5)
            END AS BIGINT) AS est_union_centi,
       CAST(CASE WHEN s.n_sketch < {K} THEN s.n_both * 100
                 ELSE FLOOR(CAST(s.n_both AS DOUBLE) / {K}
                            * ({K - 1}.0 * {HASH_SPACE!r} / s.kth_union)
                            * 100 + 0.5)
            END AS BIGINT) AS est_intersect_centi
FROM stats s, exact e
"""


@query("sketch_kmv_set_algebra", oracle=_KMV_ALGEBRA_ORACLE, tags=("sketch",))
def sketch_kmv_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch ALGEBRA — the combine-time workflow that makes sketches
    worth keeping at 100 TB: the '{KMV_A}' and '{KMV_B}' user sets'
    KMV sketches (k minima each, never the raw sets) merge into a
    union sketch (k smallest of the combined minima), estimate
    |A ∪ B| from its k-th minimum, and estimate |A ∩ B| via the
    standard KMV Jaccard route (fraction of union-sketch minima present
    in BOTH input sketches x union estimate). Exact values ride along,
    so the value hash pins both the set-algebra mechanics and the
    estimates. Everything after the two k-minima selections touches
    2k rows — query-time set arithmetic costs nothing regardless of
    corpus size."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(KMV_A, KMV_B)
    )

    pairs = (
        ev.select(
            "event_type", hash32(F.col("user_id").cast("string")).alias("h")
        ).distinct()
    ).localCheckpoint(eager=True)
    # reducer-bounded k-minima (same salted two-phase as
    # sketch_kmv_distinct — a plain rank window would ship every
    # distinct member of a hot set to one task at scale)
    sk = (
        salted_topk(
            pairs,
            ["event_type"],
            [F.col("h").asc()],
            K,
            salt=F.col("h"),
            n_salt=SALT_BUCKETS,
        ).select("event_type", "h")
    ).localCheckpoint(eager=True)
    # the union sketch ranks <= 2k surviving minima — bounded window
    uw = Window.orderBy("h")
    uk = (
        sk.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(uw))
        .filter(F.col("rn") <= K)
        .select("h")
    )
    a = sk.filter(F.col("event_type") == KMV_A).select(F.col("h").alias("ha"))
    b = sk.filter(F.col("event_type") == KMV_B).select(F.col("h").alias("hb"))
    stats = (
        uk.join(F.broadcast(a), uk.h == a.ha, "left")
        .join(F.broadcast(b), uk.h == b.hb, "left")
        .agg(
            F.max("h").alias("kth_union"),
            F.count(F.lit(1)).cast("bigint").alias("n_sketch"),
            F.sum(
                (F.col("ha").isNotNull() & F.col("hb").isNotNull()).cast("long")
            )
            .cast("bigint")
            .alias("n_both"),
        )
    )
    cnts = pairs.groupBy("h").agg(
        F.count_distinct("event_type").alias("cnt")
    )
    exact = cnts.agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_union"),
        F.sum((F.col("cnt") == 2).cast("long")).cast("bigint").alias(
            "exact_intersect"
        ),
    )
    est_union = F.lit(float(K - 1)) * F.lit(HASH_SPACE) / F.col("kth_union")
    # the final combine is 1-row x 1-row (two scalar aggregates): the
    # BroadcastNestedLoopJoin Catalyst plans here is bounded by
    # construction (a literal equi-key would just fold away) —
    # allowlisted in tests/test_plan_lint.py
    return stats.join(exact).select(
        "exact_union",
        "exact_intersect",
        "n_both",
        # degradation, same as sketch_kmv_distinct: a union sketch with
        # fewer than k minima holds BOTH sets completely, so union and
        # intersection are exact counts — the (k-1)/r_k estimator over a
        # non-full sketch returns ~k regardless of the true cardinality
        F.when(F.col("n_sketch") < K, F.col("n_sketch") * 100)
        .otherwise(F.floor(est_union * 100 + F.lit(0.5)))
        .cast("bigint")
        .alias("est_union_centi"),
        F.when(F.col("n_sketch") < K, F.col("n_both") * 100)
        .otherwise(
            F.floor(
                F.col("n_both").cast("double") / K * est_union * 100
                + F.lit(0.5)
            )
        )
        .cast("bigint")
        .alias("est_intersect_centi"),
    )


def _select_kth(cents, k: int, lo: int, hi: int) -> int:
    """k-th (1-indexed) order statistic of a checkpointed integer column by
    iterated histogram refinement (operators/selection.py) — one
    <=1024-group partial-agg job per round, ceil(log1024(range))
    rounds, vs ~log2(range) count-below jobs for the old bisection."""
    from c3dc_etl_spark.operators.selection import select_kth

    return select_kth(cents, "cents", k, lo, hi)


_WINSOR_ORACLE = """
WITH cents AS (
    SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
    FROM lineitem WHERE l_extendedprice IS NOT NULL
),
ranked AS (
    SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn, COUNT(*) OVER () AS n
    FROM cents
),
ks AS (
    SELECT n, (n * 5 + 99) // 100 AS k05, (n * 95 + 99) // 100 AS k95
    FROM (SELECT DISTINCT n FROM ranked)
),
cuts AS (
    SELECT ks.n,
           (SELECT c FROM ranked WHERE rn = ks.k05) AS p05,
           (SELECT c FROM ranked WHERE rn = ks.k95) AS p95
    FROM ks
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(p05 AS BIGINT) AS p05_cents,
       CAST(p95 AS BIGINT) AS p95_cents,
       CAST((SELECT COUNT(*) FROM cents WHERE c < p05) AS BIGINT) AS n_low,
       CAST((SELECT COUNT(*) FROM cents WHERE c > p95) AS BIGINT) AS n_high,
       CAST((SELECT SUM(CASE WHEN c < p05 THEN p05
                             WHEN c > p95 THEN p95 ELSE c END)
             FROM cents) AS BIGINT) AS sum_clipped_cents
FROM cuts
"""


@query("feature_winsorize_clip", oracle=_WINSOR_ORACLE, tags=("sketch", "quality"))
def feature_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust feature scaling by winsorization: EXACT p05/p95 cut
    points via distributed selection (value-domain histogram
    refinement — one <=1024-group partial-agg job per round over the
    checkpointed cents column, ~3 rounds per cut point, never a global
    sort), then one aggregate proving the clip (outlier counts
    on both sides + the exact clipped integer sum). The oracle's
    ROW_NUMBER order statistics are precisely the sort-based shape the
    selection scheme replaces at 100 TB. All integer cents — no
    rounding discipline needed."""
    li = load(spark, sf_dir, "lineitem")
    cents = (
        li.filter(F.col("l_extendedprice").isNotNull()).select(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents")
        )
    ).localCheckpoint(eager=True)
    row = cents.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
    ).collect()[0]
    n, lo, hi = row["n"], row["lo"], row["hi"]
    if n == 0:
        return spark.range(0).select(
            *[
                F.lit(0).cast("bigint").alias(c)
                for c in (
                    "n_rows",
                    "p05_cents",
                    "p95_cents",
                    "n_low",
                    "n_high",
                    "sum_clipped_cents",
                )
            ]
        )
    k05 = (n * 5 + 99) // 100
    k95 = (n * 95 + 99) // 100
    # both searches take the FULL bracket: select_kth's ranks are
    # global, so a narrowed lower bound (the old bisection's p05 reuse,
    # whose count-below probe saw every row <= mid regardless of lo)
    # would silently shift k95 by the weight below it
    p05 = _select_kth(cents, k05, lo, hi)
    p95 = _select_kth(cents, k95, lo, hi)
    clipped = F.when(F.col("cents") < p05, F.lit(p05)).when(
        F.col("cents") > p95, F.lit(p95)
    ).otherwise(F.col("cents"))
    return cents.agg(
        F.lit(n).cast("bigint").alias("n_rows"),
        F.lit(p05).cast("bigint").alias("p05_cents"),
        F.lit(p95).cast("bigint").alias("p95_cents"),
        F.coalesce(F.sum(F.when(F.col("cents") < p05, F.lit(1))), F.lit(0))
        .cast("bigint")
        .alias("n_low"),
        F.coalesce(F.sum(F.when(F.col("cents") > p95, F.lit(1))), F.lit(0))
        .cast("bigint")
        .alias("n_high"),
        F.sum(clipped).cast("bigint").alias("sum_clipped_cents"),
    )


# --------------------------------------------------------------------------
# Poisson bootstrap (the scale-friendly bootstrap: per-row independent
# Poisson(1) resample weights instead of a global n-with-replacement
# draw, so no resample ever needs global coordination)
# --------------------------------------------------------------------------

BOOT_B = 32  # resamples
# Poisson(1) CDF cutpoints as exact double literals (identical in both
# engines; weights above the last cutpoint clamp to 7)
_POIS_CDF = [
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
    "0.9999897508033253",
]


# The inverse-CDF compare runs directly on the md5 HEX SLICE: for the
# 32-bit uniform u = n / 2^32, u < c  <=>  n < floor(c * 2^32) + 1
# (c * 2^32 is never integral for these literals), and fixed-width
# lowercase hex compares lexicographically exactly as the integers do —
# so each lane's weight needs zero radix conversion and zero division
# (measured: conv() alone cost ~6 s over 19.2M lanes at sf0.1). The
# cutpoints are derived EXACTLY from the double literals via Fraction,
# so weights are bit-identical to the u < c formulation.
from fractions import Fraction as _Fr

_POIS_HEX = [
    format((_Fr(float(c)) * (1 << 32)).__floor__() + 1, "08x")
    for c in _POIS_CDF
]


def _pois_case_hex(h: str) -> str:
    arms = " ".join(
        f"WHEN {h} < '{x}' THEN {k}" for k, x in enumerate(_POIS_HEX)
    )
    return f"(CASE {arms} ELSE {len(_POIS_HEX)} END)"


_BOOT_ORACLE = f"""
WITH base AS (
    SELECT l_orderkey * 10 + l_linenumber AS rid,
           CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS qc
    FROM lineitem WHERE l_quantity IS NOT NULL
),
dig AS (
    SELECT blk, qc,
           MD5('bs:' || CAST(rid AS STRING) || ':' || CAST(blk AS STRING))
               AS dg
    FROM base, UNNEST(RANGE(0, {BOOT_B // 4})) AS t(blk)
),
w AS (
    SELECT blk * 4 + lane AS r, qc,
           {_pois_case_hex("SUBSTR(dg, 1 + 8 * lane, 8)")} AS wt
    FROM dig, UNNEST(RANGE(0, 4)) AS l(lane)
),
means AS (
    SELECT r,
           CAST(SUM(wt * qc) AS DOUBLE)
               / CAST(SUM(wt) * 100 AS DOUBLE) AS m
    FROM w WHERE wt > 0 GROUP BY r
),
ranked AS (
    SELECT m, ROW_NUMBER() OVER (ORDER BY m, r) AS rn FROM means
),
full_mean AS (
    SELECT CAST(SUM(qc) AS DOUBLE) / CAST(COUNT(*) * 100 AS DOUBLE) AS fm
    FROM base
)
SELECT CAST({BOOT_B} AS BIGINT) AS n_resamples,
       ROUND((SELECT m FROM ranked WHERE rn = 2), 6) + 0.0 AS mean_lo,
       ROUND((SELECT m FROM ranked WHERE rn = {BOOT_B} - 1), 6) + 0.0 AS mean_hi,
       ROUND(fm, 6) + 0.0 AS mean_full
FROM full_mean
"""


@query("bootstrap_mean_ci", oracle=_BOOT_ORACLE, tags=("sketch", "stats"))
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON bootstrap confidence interval for mean(l_quantity): each
    (row, resample) pair draws an independent Poisson(1) weight from
    the engine-wide hash-uniform (inverse-CDF over exact double
    cutpoints), so resampling needs NO global coordination — the
    at-scale bootstrap formulation (each resample's total weight
    concentrates at n, and no executor ever materializes a resample).
    Cost discipline (r8, after the bench rotation caught this at 98 s;
    97.6 -> 13 s warm at sf0.1 across the three steps): (1) md5 yields
    128 bits = FOUR 32-bit uniforms, so one digest per
    (row, resample-block-of-4) feeds four resamples' weights — B/4
    digests per row, not B — and the 4x lane explode reuses the digest
    string; (2) weights come from comparing the HEX SLICE against
    exact precomputed hex cutpoints (see _POIS_HEX) — no radix conv,
    no division, bit-identical weights; (3) quantities ride as BIGINT
    cents, so the hot sums are pure long arithmetic (decimal multiply/
    sum over the 19.2M-row explode measured ~2x the whole query), with
    ONE double division per resample at the end. The whole pipeline is
    ONE lazy plan with ONE action at the caller's collect: the
    percentile CI is picked in-plan from the B-row means table (window
    over the bounded post-agg domain + conditional aggregates) and
    cross-joined with the full-mean scalar; the old shape triggered
    the full explode THREE times (two quantile .first()s plus the
    final frame) and hid the pipeline from the plan fence."""
    from c3dc_etl_spark.operators.dedup import spread

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity").isNotNull())
    # spread BEFORE the x8 digest explode: the local single-file
    # lineitem scan yields 1-2 input partitions, which serialized the
    # 4.8M-md5 hot map onto 2 of 32 cores (measured: the x5 scaled
    # corpus, written as 32 files, ran FASTER than 1x) — a well-
    # partitioned cluster input passes through with no exchange.
    base = spread(li).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        F.expr("CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)").alias("qc"),
    )
    dig = base.select(
        "qc",
        F.explode(
            F.sequence(F.lit(0), F.lit(BOOT_B // 4 - 1))
        ).alias("blk"),
        F.col("rid"),
    ).select(
        "qc",
        "blk",
        F.md5(
            F.concat(
                F.lit("bs:"),
                F.col("rid").cast("string"),
                F.lit(":"),
                F.col("blk").cast("string"),
            )
        ).alias("dg"),
    )
    lanes = dig.select(
        "qc",
        "blk",
        "dg",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("lane"),
    )
    h = F.expr("substring(dg, 1 + 8 * lane, 8)")
    wt = F.lit(len(_POIS_HEX))
    for k in range(len(_POIS_HEX) - 1, -1, -1):
        wt = F.when(h < F.lit(_POIS_HEX[k]), F.lit(k)).otherwise(wt)
    weighted = (
        lanes.select(
            (F.col("blk") * 4 + F.col("lane")).alias("r"),
            "qc",
            wt.alias("wt"),
        )
        .filter(F.col("wt") > 0)
    )
    means = weighted.groupBy("r").agg(
        (
            F.sum(F.col("wt") * F.col("qc")).cast("double")
            / (F.sum("wt") * F.lit(100)).cast("double")
        ).alias("m")
    )
    # Quantile picks stay IN-PLAN (r8 review): rank the B-row means
    # table with a window over the bounded post-aggregation domain
    # (exactly the oracle's ROW_NUMBER ORDER BY (m, r)), reduce to one
    # row with conditional aggregates, and combine with the full-mean
    # scalar — the whole bootstrap is ONE lazy plan with ONE action at
    # the caller's collect, so the plan fence and the global-window
    # lint see the real explode pipeline instead of a pre-executed
    # driver artifact. The 1-row x 1-row combine is a bounded BNLJ
    # (allowlisted, the sketch-stats precedent).
    from pyspark.sql import Window as W

    ranked = means.select(
        "m",
        F.row_number()
        .over(W.orderBy(F.col("m").asc(), F.col("r").asc()))
        .alias("rn"),
    )
    ci = ranked.agg(
        F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("lo"),
        F.max(F.when(F.col("rn") == BOOT_B - 1, F.col("m"))).alias("hi"),
    )
    full = base.agg(
        (
            F.sum("qc").cast("double")
            / (F.count(F.lit(1)) * F.lit(100)).cast("double")
        ).alias("fm")
    )
    return full.crossJoin(ci).select(
        F.lit(BOOT_B).cast("bigint").alias("n_resamples"),
        (F.round(F.col("lo"), 6) + F.lit(0.0)).alias("mean_lo"),
        (F.round(F.col("hi"), 6) + F.lit(0.0)).alias("mean_hi"),
        (F.round(F.col("fm"), 6) + F.lit(0.0)).alias("mean_full"),
    )


# --------------------------------------------------------------------------
# Rank statistics without a global sort: Mann-Whitney U over per-value
# aggregated counts (the nonparametric A/B companion of ab_test_stats)
# --------------------------------------------------------------------------

MW_GROUP_A = "purchase"
MW_GROUP_B = "click"

_MW_ORACLE = f"""
WITH v AS (
    SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
           CAST(event_type = '{MW_GROUP_A}' AS INT) AS is_a
    FROM events WHERE event_type IN ('{MW_GROUP_A}', '{MW_GROUP_B}')
          AND value IS NOT NULL
),
cnt AS (
    SELECT cents,
           COALESCE(SUM(is_a), 0) AS ca,
           COALESCE(SUM(1 - is_a), 0) AS cb
    FROM v GROUP BY 1
),
cum AS (
    SELECT cents, ca, cb,
           COALESCE(SUM(cb) OVER (ORDER BY cents
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS cb_less,
           ca + cb AS t
    FROM cnt
),
agg AS (
    SELECT CAST(SUM(ca) AS BIGINT) AS na,
           CAST(SUM(cb) AS BIGINT) AS nb,
           CAST(SUM(ca * (2 * cb_less + cb)) AS BIGINT) AS u2,
           CAST(SUM(t * t * t - t) AS BIGINT) AS ties3
    FROM cum
)
SELECT na AS n_a, nb AS n_b, u2,
       ROUND(
         (CAST(u2 AS DOUBLE) / 2.0 - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0)
         / SQRT(
             CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
             * ((CAST(na + nb AS DOUBLE) + 1.0)
                - CAST(ties3 AS DOUBLE)
                  / (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1.0)))
           ),
         6) + 0.0 AS z
FROM agg
"""


@query("mannwhitney_u_events", oracle=_MW_ORACLE, tags=("sketch", "stats"))
def mannwhitney_u_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) comparing event values across
    two groups WITHOUT a global sort: per-value (a, b) counts with
    map-side combine, one ordered window over the AGGREGATED value
    table (bounded by value cardinality, not event count) for the
    cumulative below-counts, then U — doubled to stay integer through
    the half-credit tie term — and the tie-corrected normal
    approximation z as one IEEE expression over exact integers. The
    nonparametric companion of the Welch ab_test_stats query."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(MW_GROUP_A, MW_GROUP_B)
        & F.col("value").isNotNull()
    )
    v = ev.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        (F.col("event_type") == MW_GROUP_A).cast("int").alias("is_a"),
    )
    cnt = v.groupBy("cents").agg(
        F.coalesce(F.sum("is_a"), F.lit(0)).alias("ca"),
        F.coalesce(F.sum(F.lit(1) - F.col("is_a")), F.lit(0)).alias("cb"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = cnt.select(
        "cents",
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(w), F.lit(0)).alias("cb_less"),
        (F.col("ca") + F.col("cb")).alias("t"),
    )
    agg = cum.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.sum(F.col("ca") * (2 * F.col("cb_less") + F.col("cb")))
        .cast("bigint")
        .alias("u2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("ties3"),
    )
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    n_d = (F.col("na") + F.col("nb")).cast("double")
    z = (
        F.col("u2").cast("double") / F.lit(2.0) - na_d * nb_d / F.lit(2.0)
    ) / F.sqrt(
        na_d
        * nb_d
        / F.lit(12.0)
        * (
            (n_d + F.lit(1.0))
            - F.col("ties3").cast("double") / (n_d * (n_d - F.lit(1.0)))
        )
    )
    return agg.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "u2",
        (F.round(z, 6) + F.lit(0.0)).alias("z"),
    )


CHI2_SCALE = 1_000_000_000

_CHI2_ORACLE = f"""
WITH cells AS (
    SELECT lang, source, COUNT(*) AS nij FROM documents GROUP BY 1, 2
),
rowm AS (
    SELECT lang, source, nij,
           SUM(nij) OVER (PARTITION BY lang) AS ri,
           SUM(nij) OVER (PARTITION BY source) AS cj,
           SUM(nij) OVER () AS nn
    FROM cells
),
contrib AS (
    SELECT lang, source,
           CAST(FLOOR(
             (CAST(nn * nij - ri * cj AS DOUBLE)
              * CAST(nn * nij - ri * cj AS DOUBLE))
             / (CAST(nn AS DOUBLE) * CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE))
             * {CHI2_SCALE} + 0.5) AS BIGINT) AS c_fp
    FROM rowm
)
SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_rows_dim,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_cols_dim,
       CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1) AS BIGINT)
           AS dof,
       CAST(SUM(c_fp) AS BIGINT) AS chi2_fp,
       ROUND(CAST(SUM(c_fp) AS DOUBLE) / {CHI2_SCALE}, 4) + 0.0 AS chi2
FROM contrib
"""


@query("chi2_independence", oracle=_CHI2_ORACLE, tags=("sketch", "stats"))
def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared independence statistic for the lang x source
    contingency table — the categorical drift/association check beside
    PSI (corpus_drift_psi). Each cell's contribution is computed as the
    exact-rational form (n*nij - ri*cj)^2 / (n*ri*cj) — one IEEE
    expression over exact integer marginals, identical cross-engine —
    then QUANTIZED to 1e-9 fixed point so the cross-cell sum is an
    exact integer (a raw double sum would be addend-order-dependent).
    Only OBSERVED cells contribute (absent cells have nij = 0 pairs
    with nonzero expectation — with this synthetic full cross product
    every cell is present; the dof columns pin the table shape so a
    sparse table is visible). Cost: one groupBy over |lang|x|source|
    cells, three windows over that tiny cell table."""
    docs = load(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("nij"))
    rowm = cells.select(
        "lang",
        "source",
        "nij",
        F.sum("nij").over(Window.partitionBy("lang")).alias("ri"),
        F.sum("nij").over(Window.partitionBy("source")).alias("cj"),
        F.sum("nij").over(Window.partitionBy()).alias("nn"),
    )
    diff = (F.col("nn") * F.col("nij") - F.col("ri") * F.col("cj")).cast("double")
    c_fp = F.floor(
        diff
        * diff
        / (
            F.col("nn").cast("double")
            * F.col("ri").cast("double")
            * F.col("cj").cast("double")
        )
        * F.lit(CHI2_SCALE)
        + F.lit(0.5)
    ).cast("bigint")
    contrib = rowm.select("lang", "source", c_fp.alias("c_fp"))
    return contrib.agg(
        F.countDistinct("lang").cast("bigint").alias("n_rows_dim"),
        F.countDistinct("source").cast("bigint").alias("n_cols_dim"),
        (
            (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        F.sum("c_fp").cast("bigint").alias("chi2_fp"),
        (
            F.round(F.sum("c_fp").cast("double") / F.lit(CHI2_SCALE), 4)
            + F.lit(0.0)
        ).alias("chi2"),
    )


_KS_ORACLE = f"""
WITH v AS (
    SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
           CAST(event_type = '{MW_GROUP_A}' AS INT) AS is_a
    FROM events WHERE event_type IN ('{MW_GROUP_A}', '{MW_GROUP_B}')
          AND value IS NOT NULL
),
cnt AS (
    SELECT cents,
           COALESCE(SUM(is_a), 0) AS ca,
           COALESCE(SUM(1 - is_a), 0) AS cb
    FROM v GROUP BY 1
),
cum AS (
    SELECT cents,
           SUM(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cuma,
           SUM(cb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cumb,
           SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
    FROM cnt
),
gaps AS (
    SELECT cents, na, nb, ABS(cuma * nb - cumb * na) AS gap
    FROM cum
),
best AS (
    SELECT * FROM gaps ORDER BY gap DESC, cents ASC LIMIT 1
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(gap AS BIGINT) AS d_num,
       CAST(na * nb AS BIGINT) AS d_den,
       ROUND(CAST(gap AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)),
             6) + 0.0 AS d,
       CAST(cents AS BIGINT) AS at_cents
FROM best
"""


@query("ks_two_sample", oracle=_KS_ORACLE, tags=("sketch", "stats"))
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic over the same per-value
    aggregated cumsum machinery as Mann-Whitney: D = max |F_A - F_B| is
    found as an EXACT INTEGER argmax of |cumA*nB - cumB*nA| (cross-
    multiplied, so no float compare decides the supremum location),
    then one division for the reported D. Emits the witness value
    (at_cents) along with the exact rational (d_num, d_den). The
    distribution-shift detector beside PSI/chi2 — sensitive to any CDF
    difference, not just binned mass."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin(MW_GROUP_A, MW_GROUP_B)
        & F.col("value").isNotNull()
    )
    v = ev.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        (F.col("event_type") == MW_GROUP_A).cast("int").alias("is_a"),
    )
    cnt = v.groupBy("cents").agg(
        F.coalesce(F.sum("is_a"), F.lit(0)).alias("ca"),
        F.coalesce(F.sum(F.lit(1) - F.col("is_a")), F.lit(0)).alias("cb"),
    )
    cumw = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    allw = Window.partitionBy()
    cum = cnt.select(
        "cents",
        F.sum("ca").over(cumw).alias("cuma"),
        F.sum("cb").over(cumw).alias("cumb"),
        F.sum("ca").over(allw).alias("na"),
        F.sum("cb").over(allw).alias("nb"),
    )
    gaps = cum.select(
        "cents",
        "na",
        "nb",
        F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")).alias(
            "gap"
        ),
    )
    best = gaps.agg(
        F.min(
            F.struct((-F.col("gap")).alias("negg"), "cents", "na", "nb")
        ).alias("b")
    ).select("b.*")
    return best.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        (-F.col("negg")).cast("bigint").alias("d_num"),
        (F.col("na") * F.col("nb")).cast("bigint").alias("d_den"),
        (
            F.round(
                (-F.col("negg")).cast("double")
                / (F.col("na").cast("double") * F.col("nb").cast("double")),
                6,
            )
            + F.lit(0.0)
        ).alias("d"),
        F.col("cents").cast("bigint").alias("at_cents"),
    )


def _rank2_sql(src: str, col: str) -> str:
    """Doubled average midrank per distinct value: 2*|smaller| + t + 1
    (t = multiplicity) — integer-exact tie handling."""
    return f"""(
    SELECT {col} AS v,
           2 * COALESCE(SUM(t) OVER (ORDER BY {col}
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) + t + 1 AS r2
    FROM (SELECT {col}, COUNT(*) AS t FROM {src} GROUP BY 1)
)"""


_SPEARMAN_ORACLE = f"""
WITH base AS (
    SELECT CAST(l_quantity AS BIGINT) AS x,
           CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
),
xr AS {_rank2_sql("base", "x")},
yr AS {_rank2_sql("base", "y")},
j AS (
    SELECT xr.r2 AS a, yr.r2 AS b
    FROM base JOIN xr ON base.x = xr.v JOIN yr ON base.y = yr.v
),
s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(a AS HUGEINT)) AS DOUBLE) AS sa,
           CAST(SUM(CAST(b AS HUGEINT)) AS DOUBLE) AS sb,
           CAST(SUM(CAST(a AS HUGEINT) * b) AS DOUBLE) AS sab,
           CAST(SUM(CAST(a AS HUGEINT) * a) AS DOUBLE) AS sa2,
           CAST(SUM(CAST(b AS HUGEINT) * b) AS DOUBLE) AS sb2
    FROM j
)
SELECT CAST(n AS BIGINT) AS n_rows,
       ROUND((n * sab - sa * sb)
             / SQRT((n * sa2 - sa * sa) * (n * sb2 - sb * sb)), 6) + 0.0
           AS spearman_rho
FROM s
"""


@query("spearman_rank_corr", oracle=_SPEARMAN_ORACLE, tags=("sketch", "stats"))
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of (l_quantity, l_extendedprice)
    WITHOUT a global sort: doubled average midranks (2*|smaller| + t +
    1 — integers even under ties) come from per-value aggregated
    tables, join back to the rows, and rho is Pearson over exact
    decimal rank sums — one IEEE expression at the end. The monotonic-
    association check that catches what linear correlation misses; at
    scale the rank tables are value-cardinality-sized and the two
    joins are broadcastable."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    base = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    )

    def rank2(col: str) -> DataFrame:
        cnt = base.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("t")
        )
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        return cnt.select(
            "v",
            (
                2 * F.coalesce(F.sum("t").over(w), F.lit(0))
                + F.col("t")
                + F.lit(1)
            ).alias("r2"),
        )

    xr = rank2("x").select(F.col("v").alias("x"), F.col("r2").alias("a"))
    yr = rank2("y").select(F.col("v").alias("y"), F.col("r2").alias("b"))
    j = base.join(xr, "x").join(yr, "y")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = j.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(d(F.col("a"))).cast("double").alias("sa"),
        F.sum(d(F.col("b"))).cast("double").alias("sb"),
        F.sum(d(F.col("a")) * d(F.col("b"))).cast("double").alias("sab"),
        F.sum(d(F.col("a")) * d(F.col("a"))).cast("double").alias("sa2"),
        F.sum(d(F.col("b")) * d(F.col("b"))).cast("double").alias("sb2"),
    )
    rho = (
        F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")
    ) / F.sqrt(
        (F.col("n") * F.col("sa2") - F.col("sa") * F.col("sa"))
        * (F.col("n") * F.col("sb2") - F.col("sb") * F.col("sb"))
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_rows"),
        (F.round(rho, 6) + F.lit(0.0)).alias("spearman_rho"),
    )


HLL_ROLL_DAYS = 7

_HLL_ROLLING_ORACLE = f"""
WITH pairs AS (
    SELECT DISTINCT EPOCH_US(ts) // 86400000000 AS day,
           CAST(CONCAT('0x', SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))
                AS BIGINT) AS h
    FROM events
),
ranked AS (
    SELECT day,
           h // {1 << HLL_WBITS} AS reg,
           CASE WHEN h % {1 << HLL_WBITS} = 0 THEN {HLL_MAXRHO}
                ELSE {HLL_WBITS} - LENGTH(printf('%b', h % {1 << HLL_WBITS})) + 1
           END AS rho
    FROM pairs
),
day_regs AS (
    SELECT day, reg, MAX(rho) AS m_j FROM ranked GROUP BY day, reg
),
days AS (SELECT DISTINCT day FROM day_regs),
expanded AS (
    SELECT day + i AS tday, reg, m_j
    FROM day_regs, UNNEST(GENERATE_SERIES(0, {HLL_ROLL_DAYS - 1})) t(i)
),
merged AS (
    SELECT d.day, e.reg, MAX(e.m_j) AS m_j
    FROM days d JOIN expanded e ON e.tday = d.day
    GROUP BY d.day, e.reg
),
scaled AS (
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_regs,
           CAST(SUM(CAST(1 AS BIGINT) << ({HLL_MAXRHO} - m_j)) AS BIGINT)
               AS s_present
    FROM merged GROUP BY day
)
SELECT day, n_regs,
       CAST(s_present + ({HLL_M} - n_regs) * CAST({1 << HLL_MAXRHO} AS BIGINT)
            AS BIGINT) AS sum_scaled,
       CAST(FLOOR({HLL_ALPHA} * {HLL_NUM!r}
                  / (s_present
                     + ({HLL_M} - n_regs) * CAST({1 << HLL_MAXRHO} AS BIGINT))
                  * 100 + 0.5) AS BIGINT) AS est_centi
FROM scaled
"""


@query(
    "rolling_hll_users", oracle=_HLL_ROLLING_ORACLE, tags=("sketch", "temporal")
)
def rolling_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{HLL_ROLL_DAYS}-day distinct-user ESTIMATE per day by
    merging per-day HLL register tables — the mergeability property that
    makes sketches the 100 TB answer to windowed COUNT DISTINCT: daily
    registers are {HLL_M} rows/day forever, the window merge is an
    elementwise register MAX (associative, re-aggregable across any
    rollup), and no raw user set is ever re-scanned — where the exact
    twin (rolling_distinct_users) must re-shuffle (day, user) pairs.
    Registers/estimator share sketch_hll_distinct's cross-engine-exact
    construction (portable md5 fold, scaled-integer harmonic sum, raw
    estimator only — ln()-corrected variants are libm-unstable)."""
    from c3dc_etl_spark.suite.registry import day_bucket

    ev = load(spark, sf_dir, "events")
    pairs = (
        ev.select(
            day_bucket("ts_us").alias("day"),
            hash32(F.col("user_id").cast("string")).alias("h"),
        ).distinct()
    ).localCheckpoint(eager=True)
    wmod = F.pmod(F.col("h"), F.lit(1 << HLL_WBITS))
    ranked = pairs.select(
        "day",
        F.expr(f"h div {1 << HLL_WBITS}").alias("reg"),
        F.when(wmod == 0, F.lit(HLL_MAXRHO))
        .otherwise(F.lit(HLL_WBITS) - F.length(F.bin(wmod)) + 1)
        .alias("rho"),
    )
    day_regs = ranked.groupBy("day", "reg").agg(F.max("rho").alias("m_j"))
    days = day_regs.select("day").distinct()
    expanded = day_regs.select(
        F.explode(
            F.sequence(
                F.col("day"), F.col("day") + F.lit(HLL_ROLL_DAYS - 1)
            )
        ).alias("tday"),
        "reg",
        "m_j",
    )
    merged = (
        days.join(expanded, days["day"] == expanded["tday"])
        .groupBy("day", "reg")
        .agg(F.max("m_j").alias("m_j"))
    )
    scaled = merged.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_regs"),
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {HLL_MAXRHO} - m_j)"))
        .cast("bigint")
        .alias("s_present"),
    )
    sum_scaled = (
        F.col("s_present")
        + (F.lit(HLL_M) - F.col("n_regs"))
        * F.lit(1 << HLL_MAXRHO).cast("bigint")
    ).cast("bigint")
    return scaled.select(
        "day",
        "n_regs",
        sum_scaled.alias("sum_scaled"),
        F.floor(
            F.lit(float(HLL_ALPHA)) * F.lit(HLL_NUM) / sum_scaled * 100
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("est_centi"),
    )


_WMEDIAN_ORACLE = """
WITH w AS (
    SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
           CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS wt
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
),
vc AS (SELECT cents, CAST(SUM(wt) AS BIGINT) AS wt FROM w GROUP BY cents),
tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS tw FROM vc),
cum AS (
    SELECT cents,
           CAST(SUM(wt) OVER (ORDER BY cents
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT) AS cm
    FROM vc
)
SELECT tot.tw AS total_weight,
       CAST((SELECT MIN(cents) FROM cum WHERE cm >= (tot.tw + 1) // 2)
            AS BIGINT) AS weighted_median_cents
FROM tot
"""


@query("weighted_median_selection", oracle=_WMEDIAN_ORACLE, tags=("sketch",))
def weighted_median_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quantity-weighted median price by distributed selection —
    exact_median_selection's weighted sibling: histogram refinement on
    the value domain where each round's buckets accumulate WEIGHT SUMS
    instead of counts, converging to the smallest value whose
    cumulative weight reaches (W+1)/2. Same scale contract: no global
    sort, one partial-agg histogram job per round over a checkpointed
    two-column frame, ceil(log1024(range)) rounds. Weights are integral
    (rule-2 floor on the 2-dp quantity) so W and the stopping rule are
    exact; the oracle states the same order statistic via a cumulative
    window (fine at test scale, the sort it embodies being exactly
    what the selection loop avoids)."""
    li = load(spark, sf_dir, "lineitem")
    wf = (
        li.filter(
            F.col("l_extendedprice").isNotNull()
            & F.col("l_quantity").isNotNull()
        ).select(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("cents"),
            F.floor(F.col("l_quantity") + F.lit(0.5))
            .cast("bigint")
            .alias("wt"),
        )
    ).localCheckpoint(eager=True)
    row = wf.agg(
        F.sum("wt").alias("tw"),
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
    ).collect()[0]
    tw, lo, hi = row["tw"], row["lo"], row["hi"]
    if tw is None:
        return spark.range(0).select(
            F.lit(0).cast("bigint").alias("total_weight"),
            F.lit(0).cast("bigint").alias("weighted_median_cents"),
        )
    tw, lo, hi = int(tw), int(lo), int(hi)
    k = (tw + 1) // 2
    from c3dc_etl_spark.operators.selection import select_kth

    med = select_kth(wf, "cents", k, lo, hi, weight_col="wt")
    return spark.range(1).select(
        F.lit(tw).cast("bigint").alias("total_weight"),
        F.lit(med).cast("bigint").alias("weighted_median_cents"),
    )
