"""Core relational queries (scans, filters, projections, joins, aggs).

These exercise the generic Spark primitives SURVEY.md §2 maps the
reference's operators onto: predicate pushdown scans (S1-S2 analog),
empty-row filters (P1/P2), mapping-driven projection (P4), broadcast
lookup joins (J4/J5), equi joins (J1), group aggregation (A3/A6) and
deterministic top-k (O4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from c3dc_etl_spark.suite.registry import davg, dec, dsum, load, query


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT
        l_returnflag,
        l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(
            CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))
            AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(
            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))
            * CAST(1.0 + l_tax AS DECIMAL(18,2))
            AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
        ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
        ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
        COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "tpch"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: filter -> hash agg with map-side
    partials. Flagship scan+agg; at 100 TB this is a single shuffle on
    (returnflag, linestatus) with ~6 groups — partial aggregation does
    almost all the work map-side."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = dec("l_extendedprice").cast("decimal(18,2)") * dec(
        F.lit(1.0) - F.col("l_discount")
    )
    disc_price = disc_price.cast("decimal(18,4)")
    charge = (disc_price * dec(F.lit(1.0) + F.col("l_tax"))).cast("decimal(18,6)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_top_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(SUM(CAST(
               CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))
               AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
    tags=("join", "topk", "tpch"),
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: selective dimension filter -> broadcast join ->
    agg -> deterministic top-k (revenue DESC, unique key tiebreak).
    customer is tiny relative to lineitem, so it is broadcast: the big
    fact table never shuffles for the join."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    disc_price = (
        dec("l_extendedprice").cast("decimal(18,2)")
        * dec(F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(18,4)")
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "q5_region_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(
               CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))
               AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    tags=("join", "agg", "tpch"),
)
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style star join. The two fact tables (lineitem, orders)
    meet in a shuffle join on orderkey — broadcasting an orders-sized
    intermediate would OOM the driver at 100x scale. True dimensions
    (customer, supplier, nation, region) are broadcast, so the only wide
    exchanges are the fact-fact join and the final small groupBy."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    disc_price = (
        dec("l_extendedprice").cast("decimal(18,2)")
        * dec(F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(18,4)")
    return (
        li.join(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(supp),
              (li.l_suppkey == supp.s_suppkey) & (F.col("c_nationkey") == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(disc_price).cast("double").alias("revenue"))
    )


@query(
    "filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity AS qty, l_returnflag AS flag
    FROM lineitem
    WHERE l_quantity > 30 AND l_returnflag <> '' AND l_discount BETWEEN 0.02 AND 0.08
    """,
    tags=("filter", "projection"),
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P4: pushdown-friendly filter + column-pruned projection
    (reference drops blank-id rows, etl/ccdi/c3dc_etl.py:513, and
    renames source->output fields, etl/ccdi/c3dc_etl.py:1018-1027).
    Both predicate and 4-column ReadSchema reach the parquet scan."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30)
        & (F.col("l_returnflag") != "")
        & F.col("l_discount").between(0.02, 0.08)
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("qty"),
        F.col("l_returnflag").alias("flag"),
    )


@query(
    "broadcast_lookup_join",
    oracle="""
    SELECT l_orderkey, l_linenumber, p_name, p_brand,
           CAST(FLOOR(l_quantity * p_retailprice + 0.5) AS BIGINT) AS line_value
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 10
    """,
    tags=("join", "broadcast"),
)
def broadcast_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/J5: small-dimension lookup as an explicit broadcast hash join —
    the Spark answer to the reference's per-row dict lookups
    (etl/mci/c3dc_etl.py:941,1540-1561). No shuffle of the fact side."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_orderkey",
        "l_linenumber",
        "p_name",
        "p_brand",
        F.floor(F.col("l_quantity") * F.col("p_retailprice") + F.lit(0.5))
        .cast("bigint")
        .alias("line_value"),
    )


@query(
    "dupe_count_assertion",
    oracle="""
    SELECT o_custkey AS cust_id, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) > 1
    """,
    tags=("agg", "validation"),
)
def dupe_count_assertion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/D3/D4: duplicate-key frequency check (reference
    etl/ccdi/c3dc_etl.py:1475-1485, etl/target/c3dc_etl.py:1719-1727)
    as groupBy(id).count().filter(>1)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_custkey").alias("cust_id"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") > 1)
    )


@query(
    "anti_join_integrity",
    oracle="""
    SELECT o_orderkey, o_custkey
    FROM orders
    ANTI JOIN customer ON o_custkey = c_custkey
    """,
    tags=("join", "validation"),
)
def anti_join_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X5: referential-integrity check as a left_anti join (reference
    loops: every link id must resolve, etl/target/c3dc_etl.py:1663-1815;
    treatment-response-without-treatment warning
    etl/mci/c3dc_etl.py:2313-2347). Broadcast anti join — zero rows
    expected on clean data."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    return orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_anti"
    ).select("o_orderkey", "o_custkey")


@query(
    "semi_join_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    SEMI JOIN orders ON c_custkey = o_custkey AND o_totalprice > 200000
    """,
    tags=("join",),
)
def semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one big order — the
    distributed form of the reference's 'participant has observations'
    existence scans (etl/ccdi/c3dc_etl.py:1429-1432)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "theta_rule_join",
    oracle="""
    SELECT e.event_id, r.rule_name
    FROM events e
    JOIN (
        SELECT 'big_error' AS rule_name, 'error' AS want_type, 150.0 AS min_value
        UNION ALL
        SELECT 'any_signup', 'signup', 0.0
        UNION ALL
        SELECT 'mid_click', 'click', 100.0
    ) r
      ON LOWER(TRIM(e.event_type)) = r.want_type AND e.value >= r.min_value
    """,
    tags=("join", "rules"),
)
def theta_rule_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/M3: row-mapped rule matching as a broadcast theta join — each
    rule row whose predicates all match a record yields one output
    (reference C3dcRowMappedBuilder.get_records,
    etl/mci/c3dc_row_mapped_builder.py:195-252,312-387). Rules are tiny
    -> broadcast; match predicate is case-insensitive like the
    reference's casefold comparisons."""
    events = load(spark, sf_dir, "events")
    rules = spark.createDataFrame(
        [
            ("big_error", "error", 150.0),
            ("any_signup", "signup", 0.0),
            ("mid_click", "click", 100.0),
        ],
        "rule_name string, want_type string, min_value double",
    )
    return events.join(
        F.broadcast(rules),
        (F.lower(F.trim(events.event_type)) == rules.want_type)
        & (events.value >= rules.min_value),
    ).select("event_id", "rule_name")


_BUCKETED_ORACLE = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""

_BUCKETS = 8


@query("join_bucketed_colocated", oracle=_BUCKETED_ORACLE, tags=("relational",))
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join via BUCKETED tables — the technique
    that removes the dominant shuffle of a 100 TB pipeline: both orders
    and lineitem are written bucketBy(orderkey) once, so the join reads
    bucket i against bucket i directly and the sort-merge join needs NO
    Exchange on either side (tests/test_plan_lint.py asserts the plan
    is exchange-free). The merge hint pins SMJ so the demonstration
    doesn't degrade to a broadcast at toy scale; quantities are
    per-row-cast to bigint so the sum is order-independent."""
    import tempfile

    wh = tempfile.mkdtemp(prefix="bkt_wh_")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    items = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    (
        orders.write.mode("overwrite")
        .option("path", f"{wh}/orders")
        .bucketBy(_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("bkt_orders")
    )
    (
        items.write.mode("overwrite")
        .option("path", f"{wh}/lineitem")
        .bucketBy(_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("bkt_lineitem")
    )
    o = spark.table("bkt_orders").hint("merge")
    l = spark.table("bkt_lineitem")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
    )


_Q6_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


@query("q6_forecast_revenue_sql", oracle=_Q6_ORACLE, tags=("relational", "sql"))
def q6_forecast_revenue_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change) expressed through the plain
    SQL API surface — temp view + spark.sql — proving the engine's SQL
    entry point carries the same semantics as the DataFrame plans (both
    compile to the same Catalyst tree). All four predicates push to the
    parquet scan; the aggregation is a single partial-agg reduce with
    exact DECIMAL products so the sum is order-independent."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "v_lineitem"
    )
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM v_lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
        """
    )


_WINFUNC_ORACLE = """
SELECT event_id, user_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
       EPOCH_US(ts) - LAG(EPOCH_US(ts), 1) OVER w AS gap_us,
       ROUND(PERCENT_RANK() OVER w, 4) + 0.0 AS pct_rank
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY EPOCH_US(ts) ASC, event_id ASC)
"""


@query("window_functions_suite", oracle=_WINFUNC_ORACLE, tags=("relational",))
def window_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking/navigation window family in one pass: row_number,
    ntile, lag-delta, percent_rank over (user, time) — ONE window spec,
    so Catalyst evaluates all four functions in a single WindowExec
    after a single shuffle on user_id (total order inside each
    partition via the (ts, id) tie-break keeps every function
    deterministic cross-engine)."""
    from c3dc_etl_spark.suite.registry import load as _load

    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        (F.col("ts_us") - F.lag("ts_us", 1).over(w)).alias("gap_us"),
        (F.round(F.percent_rank().over(w), 4) + F.lit(0.0)).alias("pct_rank"),
    )


_CUBE_ORACLE = """
SELECT COALESCE(event_type, '<all>') AS event_type,
       COALESCE(CAST(day_bucket AS STRING), '<all>') AS day_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(GROUPING(event_type) * 2 + GROUPING(day_bucket) AS BIGINT)
           AS grouping_id
FROM (SELECT event_type, EPOCH_US(ts) // 86400000000 AS day_bucket FROM events)
GROUP BY CUBE (event_type, day_bucket)
"""


@query("agg_grouping_cube", oracle=_CUBE_ORACLE, tags=("relational",))
def agg_grouping_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation — all four grouping combinations (type x day,
    type, day, grand total) in ONE pass: Spark expands the grouping
    sets map-side and partially aggregates before the single exchange,
    so the cube costs one shuffle, not four scans. grouping_id
    disambiguates the NULL-as-total rows exactly as the oracle's
    GROUPING() bits do."""
    from c3dc_etl_spark.suite.registry import day_bucket
    from c3dc_etl_spark.suite.registry import load as _load

    ev = _load(spark, sf_dir, "events").select(
        "event_type",
        day_bucket().alias("day_bucket"),
    )
    return (
        ev.cube("event_type", "day_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.grouping_id().cast("bigint").alias("grouping_id"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
            F.coalesce(F.col("day_bucket").cast("string"), F.lit("<all>")).alias(
                "day_bucket"
            ),
            F.col("n_events").cast("bigint").alias("n_events"),
            "grouping_id",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H breadth block (round 4): the remaining canonical plan shapes the
# Q1/Q3/Q5/Q6 family does not exercise — correlated EXISTS (semi join),
# outer-join count distributions, NOT-IN (anti join) under COUNT DISTINCT,
# HAVING-filtered join-back, OR-of-ANDs disjunctive pushdown, and a
# scalar-subquery threshold with a dormancy anti join. Together they close
# the "could a reference user run their relational workload here" question
# for every join strategy Spark plans.
# ---------------------------------------------------------------------------


@query(
    "q4_priority_semijoin",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1995-04-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o_orderpriority
    """,
    tags=("join", "tpch"),
)
def q4_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: correlated EXISTS compiled as a LEFT SEMI join —
    orders in a 3-month window that had at least one line shipped >90
    days after the order date, counted per priority. The semi join
    carries only the join keys of the probe side and short-circuits on
    first match; the date filter prunes the orders scan before the
    shuffle, so at 100 TB the exchange moves one quarter of orders, not
    the table."""
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-04-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "q13_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders
          ON c_custkey = o_custkey
         AND o_orderpriority = '1-URGENT'
         AND o_totalprice > 150000
        GROUP BY c_custkey
    ) t
    GROUP BY c_count
    """,
    tags=("join", "agg", "tpch"),
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: customer order-count distribution through a
    LEFT OUTER join whose predicate lives IN the join condition (urgent
    big-ticket orders only), so customers with zero matches survive
    with count 0. Two aggregations: the first shuffles on c_custkey
    (matching the join's key, so AQE coalesces into one stage pair),
    the second reduces |customers| rows to a handful of histogram
    buckets — partial aggregation makes it map-side-trivial."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 150000),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count(F.col("o_orderkey")).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q16_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
    tags=("join", "agg", "tpch"),
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped: supplier variety per (brand, type, size) with a
    NOT-IN exclusion compiled as a broadcast LEFT ANTI join (the
    excluded set — suppliers in arrears — is dimension-sized). part is
    filtered then broadcast; COUNT(DISTINCT) expands to the standard
    two-phase distinct aggregate, both phases partial before their
    exchange. The fact table is the only shuffled input at any scale.

    NOT IN is only anti-join-equivalent when the subquery is null-free;
    s_suppkey is a key (never null), which both engines then plan as a
    plain anti join."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT c_name, o.o_orderkey,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_totalprice,
           CAST(big.sum_qty AS DOUBLE) AS sum_qty
    FROM orders o
    JOIN customer ON c_custkey = o_custkey
    JOIN (
        SELECT l_orderkey,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    ) big ON big.l_orderkey = o.o_orderkey
    """,
    tags=("join", "agg", "tpch"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: orders whose total line quantity exceeds a
    threshold, joined back to orders+customer. The HAVING filter runs
    where the aggregate lives — the big-order set collapses to ~1% of
    orderkeys BEFORE any join, so the join-back input is tiny and AQE
    turns both joins into broadcasts at any scale where the survivor
    set stays dimension-sized. Quantity sums ride DECIMAL for exact,
    order-independent totals (registry rule 1)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > 250)
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
    )


@query(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(
               CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1.0 - l_discount AS DECIMAL(18,2))
               AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 40)
       OR (p_brand = 'Brand#33' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    GROUP BY p_brand
    """,
    tags=("join", "filter", "tpch"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped: OR-of-ANDs spanning both join sides. The
    single-side implications Catalyst can extract are pushed below the
    join (part keeps only the three brands' size windows; lineitem
    keeps the quantity hull 1-50), the part side is broadcast, and the
    full disjunction evaluates as the join's residual predicate —
    revenue per matched brand in one pass over the fact table."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, sz, br = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    disjunct = (
        ((br == "Brand#11") & sz.between(1, 15) & q.between(1, 20))
        | ((br == "Brand#22") & sz.between(10, 30) & q.between(10, 40))
        | ((br == "Brand#33") & sz.between(20, 50) & q.between(20, 50))
    )
    disc_price = (
        dec("l_extendedprice").cast("decimal(18,2)")
        * dec(F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(disjunct)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(disc_price).cast("double").alias("revenue"),
        )
    )


@query(
    "q22_dormant_customers",
    oracle="""
    WITH threshold AS (
        -- exact decimal sum -> correctly-rounded double -> one IEEE
        -- division: bit-identical threshold in both engines (engine-native
        -- AVG would round at engine-specific intermediate precisions)
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_bal
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (SELECT avg_bal FROM threshold)
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c_nationkey
    """,
    tags=("join", "agg", "tpch"),
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped: above-average-balance customers with no recent
    orders, per nation. The scalar subquery (positive-balance mean) is
    a one-row aggregate collected to the driver and folded in as a
    literal — the bounded-collect pattern every engine uses for scalar
    subqueries. The threshold is an exact DECIMAL sum cast to double
    then divided by the count — one IEEE division from a
    correctly-rounded operand, so both engines derive the bit-identical
    threshold (engine-native AVG rounds at engine-specific intermediate
    precisions and could flip a boundary row). Dormancy is a LEFT ANTI
    join against the recent-orders slice; the date filter prunes that
    slice before the anti join's exchange, and the build side carries
    only o_custkey."""
    cust = load(spark, sf_dir, "customer")
    row = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(dsum("c_acctbal").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    avg_bal = row["s"] / row["n"]
    recent = (
        load(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    return (
        cust.filter(F.col("c_acctbal") > avg_bal)
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


# --- TPC-H breadth, second wave: Q7/Q9/Q14/Q15/Q17 shapes -----------------

_DISC_PRICE_SQL = """CAST(
    CAST(l_extendedprice AS DECIMAL(18,2))
    * CAST(1.0 - l_discount AS DECIMAL(18,2))
    AS DECIMAL(18,4))"""


def _disc_price() -> "Column":
    return (
        dec("l_extendedprice").cast("decimal(18,2)")
        * dec(F.lit(1.0) - F.col("l_discount"))
    ).cast("decimal(18,4)")


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(STRFTIME(l_shipdate, '%Y') AS INT) AS ship_year,
           CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY n1.n_name, n2.n_name, ship_year
    """,
    tags=("join", "tpch"),
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: bilateral trade volume between two nations per
    ship year — a five-way star join where every dimension (orders'
    customer side and lineitem's supplier side resolve through nation
    twice) broadcasts, and the disjunctive nation-pair predicate runs
    as the residual after both nation joins. orders x lineitem is the
    one fact-fact edge and meets in a shuffle join on orderkey (an
    orders-sized broadcast would OOM at scale — same rule as Q5); every
    other join is fact-against-broadcast, and the final agg groups a
    handful of (nation, nation, year) cells map-side."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(STRFTIME(o_orderdate, '%Y') AS INT) AS order_year,
           CAST(SUM(
               {_DISC_PRICE_SQL}
               - CAST(CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,4))
           ) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, order_year
    """,
    tags=("join", "agg", "tpch"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped: profit (revenue minus retail cost of goods, the
    partsupp-free proxy) on red parts, by supplier nation and order
    year. The selective part filter broadcasts FIRST so the fact scan
    collapses before the remaining dims attach (orders, itself a fact,
    meets the collapsed stream in a shuffle join); profit stays
    in DECIMAL end-to-end (a subtraction of two fixed-scale products)
    so the grouped sums are exact in any order."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    cost = (
        dec("p_retailprice").cast("decimal(18,2)") * dec("l_quantity")
    ).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        # orders is a fact table: shuffle join on orderkey (AQE may still
        # broadcast the part-collapsed probe side at small SF, but the
        # plan must not FORCE an orders-sized broadcast)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(F.sum(_disc_price() - cost).cast("double").alias("profit"))
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_DISC_PRICE_SQL}
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
               AS promo_revenue,
           CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS total_revenue,
           CAST(FLOOR(
               CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_DISC_PRICE_SQL}
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
               / CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) * 1000000 + 0.5)
               AS BIGINT) AS promo_share_x1e6
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
    """,
    tags=("join", "agg", "tpch"),
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: promotional revenue share for one month — a
    conditional aggregate over a broadcast part join, both sums in one
    pass (no second scan for the denominator). The share is emitted as
    exact fixed-point from two decimal-exact doubles divided once."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01 00:00:00").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    dp = _disc_price()
    promo = F.when(F.col("p_type") == "PROMO", dp).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(dp).cast("double").alias("total_revenue"),
        )
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        F.floor(
            F.col("promo_revenue") / F.col("total_revenue") * 1_000_000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("promo_share_x1e6"),
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey AS suppkey,
               CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM rev JOIN supplier ON s_suppkey = suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    tags=("join", "agg", "tpch"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped: the supplier(s) with maximum quarterly revenue,
    ties kept (the view + scalar-max formulation). Revenue per supplier
    is one partial-agg exchange; the global max is a 1-row bounded
    collect folded back as a literal (decimal-exact sums make the
    double comparison safe: both engines derive bit-identical
    revenues); the supplier dimension broadcasts onto the handful of
    winners."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )

    rev = (
        li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
            F.sum(_disc_price()).cast("double").alias("total_revenue")
        )
    ).localCheckpoint(eager=True)
    top = rev.agg(F.max("total_revenue").alias("m")).collect()[0]["m"]
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.filter(F.col("total_revenue") == top)
        .join(F.broadcast(supp), F.col("suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q17_small_quantity",
    oracle=f"""
    WITH avg_qty AS (
        SELECT l_partkey AS pk,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS aq
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                           AS DOUBLE) / 7.0 * 100 + 0.5) AS BIGINT)
               AS avg_yearly_x100
    FROM lineitem JOIN avg_qty ON l_partkey = pk
    WHERE l_quantity < 0.2 * aq
    """,
    tags=("join", "agg", "tpch"),
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: revenue lost to small-quantity orders — a
    correlated per-part average (decimal-exact sum / count, one IEEE
    division per part) joined back against the fact table, the
    aggregate-then-self-join decorrelation every optimizer applies to
    Q17. Both sides shuffle on l_partkey, so AQE plans the join
    without a third exchange; the final scalar is one map-side-combined
    aggregate emitted in exact fixed-point."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_qty = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (dsum("l_quantity") / F.count(F.lit(1))).alias("aq")
    )
    joined = li.join(avg_qty, li.l_partkey == F.col("pk")).filter(
        F.col("l_quantity") < 0.2 * F.col("aq")
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.floor(dsum("l_extendedprice") / 7.0 * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("avg_yearly_x100"),
    )


@query(
    "q2_best_balance_supplier",
    oracle="""
    WITH supply AS (
        SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
    ),
    offers AS (
        SELECT s.pk, s.sk, sup.s_acctbal, sup.s_name, n.n_name
        FROM supply s
        JOIN supplier sup ON sup.s_suppkey = s.sk
        JOIN nation n   ON n.n_nationkey = sup.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
    ),
    best AS (
        SELECT pk, MAX(s_acctbal) AS best_bal FROM offers GROUP BY pk
    )
    SELECT p.p_partkey, p.p_brand, o.s_name, n_name AS nation,
           o.s_acctbal
    FROM offers o
    JOIN best b ON o.pk = b.pk AND o.s_acctbal = b.best_bal
    JOIN part p ON p.p_partkey = o.pk
    WHERE p.p_size = 15
    """,
    tags=("join", "tpch"),
)
def q2_best_balance_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped (extremal measure inverted: MAX account
    balance stands in for MIN supply cost — the dataset has no
    partsupp): for each size-15 part, the best-balance ASIA
    supplier(s) who actually supply it — the correlated scalar
    subquery (MAX per part) decorrelated into an aggregate + re-join
    on the extremal value, ties kept, exactly how every optimizer
    rewrites Q2. The supply relation is the distinct (part, supplier)
    projection of lineitem (the dataset's partsupp stand-in); supplier/
    nation/region broadcast; the per-part MAX is one partial-agg
    exchange and the re-join hits the same key so AQE chains it
    without a new shuffle. Balance equality across engines is safe:
    the compared doubles are UNTRANSFORMED column values."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).distinct()
    sup = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    offers = (
        li.join(F.broadcast(sup), li.sk == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("pk", "s_name", F.col("n_name").alias("nation"), "s_acctbal")
    )
    best = offers.groupBy(F.col("pk").alias("b_pk")).agg(
        F.max("s_acctbal").alias("best_bal")
    )
    part = load(spark, sf_dir, "part").filter(F.col("p_size") == 15).select(
        "p_partkey", "p_brand"
    )
    return (
        offers.join(
            best,
            (offers.pk == best.b_pk) & (offers.s_acctbal == best.best_bal),
        )
        .join(F.broadcast(part), offers.pk == part.p_partkey)
        .select("p_partkey", "p_brand", "s_name", "nation", "s_acctbal")
    )


@query(
    "agg_multi_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT EPOCH_US(ts) // 86400000000) AS BIGINT)
               AS n_days
    FROM events
    GROUP BY event_type
    """,
    tags=("agg",),
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates over DIFFERENT columns in one query
    — the plan shape Catalyst handles with an Expand node (each input
    row fans out once per distinct group, tagged by gid) so BOTH
    distinct sets and the plain count resolve in a single aggregation
    pipeline over one scan: the alternative users reach for (self-join
    of two separate distinct aggregates) doubles the scan and shuffles
    twice. At scale the Expand's 3x row fan-out is narrow (tag + one
    key column each) and partial aggregation collapses it map-side."""
    from c3dc_etl_spark.suite.registry import day_bucket

    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count_distinct(F.col("user_id")).cast("bigint").alias("n_users"),
        F.count_distinct(day_bucket()).cast("bigint").alias("n_days"),
    )


_NULLSEM_ORACLE = """
WITH t(k, v) AS (
    VALUES ('a', 1.0), ('a', NULL), ('b', NULL),
           ('c', 2.0), ('c', 3.0), (NULL, 4.0)
)
SELECT COALESCE(k, '<null>') AS k,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(v) AS BIGINT) AS n_vals,
       CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(MAX(v IS NOT DISTINCT FROM NULL) AS INT) AS any_null_safe_eq
FROM t
GROUP BY k
"""


@query("null_semantics_probe", oracle=_NULLSEM_ORACLE, tags=("conformance",))
def null_semantics_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI NULL-semantics conformance row, pinned cross-engine over a
    fixed literal relation (no table dependency — the sf_dir is
    unused): COUNT(*) counts null rows while COUNT(col) skips them,
    SUM over an all-null group is NULL (not 0), a null GROUP BY key
    forms its own group, and null-safe equality (Spark ``<=>`` ==
    DuckDB ``IS NOT DISTINCT FROM``) is true exactly on the null
    values. Engines disagree on these edges more often than on any
    join algorithm; this row turns each rule into a hashed fact."""
    rows = [
        ("a", 1.0), ("a", None), ("b", None),
        ("c", 2.0), ("c", 3.0), (None, 4.0),
    ]
    t = spark.createDataFrame(rows, "k string, v double")
    return t.groupBy(F.coalesce(F.col("k"), F.lit("<null>")).alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count(F.col("v")).cast("bigint").alias("n_vals"),
        F.sum(dec("v")).cast("double").alias("sum_v"),
        F.sum(F.col("v").isNull().cast("long")).cast("bigint").alias("n_nulls"),
        F.max(F.col("v").eqNullSafe(F.lit(None).cast("double")).cast("int"))
        .cast("int")
        .alias("any_null_safe_eq"),
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT CAST(STRFTIME(o_orderdate, '%Y') AS INT) AS o_year,
           CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS total_volume,
           CAST(FLOOR(
               CAST(SUM(CASE WHEN n2.n_name = 'NATION_1' THEN {_DISC_PRICE_SQL}
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
               / CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) * 1000000 + 0.5)
               AS BIGINT) AS mkt_share_x1e6
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = c_nationkey
    JOIN region   ON r_regionkey = n1.n_regionkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s_nationkey
    WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_year
    """,
    tags=("join", "agg", "tpch"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped: one supplier nation's market share of ECONOMY-part
    volume sold into the AMERICA region, per order year — the doubled
    nation role (customer side resolves nation->region, supplier side
    resolves nation as the share target) with a conditional-sum ratio.
    Every dimension broadcasts (part's ECONOMY filter first, so the fact
    scan collapses before the wide joins); orders is the one fact-fact
    edge and meets lineitem in a shuffle join on orderkey. Numerator and
    denominator come from ONE aggregation pass (no second scan), both
    decimal-exact, divided once into fixed-point so the share is
    bit-identical cross-engine."""
    li = load(spark, sf_dir, "lineitem")
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    dp = _disc_price()
    target = F.when(F.col("supp_nation") == "NATION_1", dp).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(dp).cast("double").alias("total_volume"),
            F.sum(target).cast("double").alias("__nation_volume"),
        )
    )
    return agg.select(
        "o_year",
        "total_volume",
        F.floor(
            F.col("__nation_volume") / F.col("total_volume") * 1_000_000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("mkt_share_x1e6"),
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, c_acctbal, n_name AS nation,
           CAST(SUM({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "topk", "tpch"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: top-20 customers by revenue lost to returned
    items in one quarter. The returnflag filter prunes the fact scan,
    orders (date-filtered) meets it in a shuffle join on orderkey,
    customer + nation broadcast, and the top-k is a TakeOrderedAndProject
    — per-partition heaps of 20 rows, never a global sort. The ORDER BY
    carries c_custkey as a deterministic tiebreak: revenue is
    decimal-exact so both engines rank identically, but equal revenues
    must not make the 20-row cut nondeterministic."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nation = load(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q11_important_stock",
    oracle="""
    WITH vals AS (
        SELECT l_partkey AS pk,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                             * CAST(l_quantity AS DECIMAL(18,2))
                             AS DECIMAL(18,4))) AS DOUBLE) AS supply_value
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        JOIN region   ON r_regionkey = n_regionkey
        WHERE r_name = 'EUROPE'
        GROUP BY pk
    )
    SELECT pk AS p_partkey, supply_value
    FROM vals
    WHERE supply_value > 0.001 *
          (SELECT CAST(SUM(CAST(supply_value AS DECIMAL(18,4))) AS DOUBLE)
           FROM vals)
    """,
    tags=("join", "agg", "tpch"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped: parts whose supply value (price x quantity
    shipped by EUROPE-region suppliers — the dataset's partsupp
    stand-in) exceeds a fixed fraction of the GLOBAL supply value: the
    group-HAVING-against-a-scalar-global-aggregate shape. The grouped
    frame is computed ONCE (checkpointed) and serves both the per-part rows
    and the global total — the total is a bounded 1-row collect folded
    back as a literal (Q15's discipline), so the plan re-aggregates
    |parts| rows, never rescans the fact table. Per-part values are
    decimal-exact; the 0.001 threshold multiplication is one IEEE
    double op identical in both engines."""
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    value = (
        dec("l_extendedprice").cast("decimal(18,2)") * dec("l_quantity")
    ).cast("decimal(18,4)")
    vals = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(value).cast("double").alias("supply_value"))
    ).localCheckpoint(eager=True)
    total = vals.agg(F.sum(dec("supply_value", 4)).cast("double").alias("t")).collect()[
        0
    ]["t"]
    return vals.filter(F.col("supply_value") > 0.001 * F.lit(total))


@query(
    "q12_shipmode_priority",
    oracle="""
    SELECT l_returnflag AS return_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE l_returnflag IN ('A', 'R')
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY return_class
    """,
    tags=("join", "agg", "tpch"),
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped: two-way conditional counts of high- vs
    low-priority orders among LATE shipments (shipped more than 60 days
    after the order — the dataset has no commit/receipt dates, so the
    ship-lag inequality stands in for receipt>commit), grouped by the
    line's return class (the shipmode stand-in, two selected values).
    The lateness predicate is a cross-table comparison, so it runs as a
    residual on the orderkey shuffle join — NOT a pre-scan filter; the
    year filter and the IN filter DO push to the lineitem scan. Both
    priority counts come from one aggregation pass."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(F.col("l_returnflag").alias("return_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias(
                "low_line_count"
            ),
        )
    )


@query(
    "q20_potential_promotion",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'ASIA'
      AND s_suppkey IN (
        SELECT l1.l_suppkey
        FROM lineitem l1
        JOIN part ON p_partkey = l1.l_partkey
        WHERE p_name LIKE '%blue%'
          AND l1.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l1.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l1.l_suppkey, l1.l_partkey
        HAVING 2 * SUM(CAST(l1.l_quantity AS DECIMAL(18,2))) >
               (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
                FROM lineitem l2
                WHERE l2.l_suppkey = l1.l_suppkey
                  AND l2.l_partkey = l1.l_partkey)
      )
    """,
    tags=("join", "semi", "tpch"),
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped: ASIA-region suppliers who shipped more than
    half of their all-time volume of a blue part within 1996 — a
    semi-join against a subquery whose HAVING threshold is a CORRELATED
    aggregate over a different slice of the same fact table (1996
    quantity vs all-time quantity per supplier-part).

    The correlation is decorrelated into ONE aggregation pass: group
    blue-part lineitems by (supplier, part) with a conditional
    year-window sum beside the unconditional total — the rewrite every
    optimizer applies, turning two correlated scans into one. The
    threshold compare is pure decimal (2*q96 > qtot — no doubles, no
    epsilon); the qualifying supplier set is tiny and broadcasts into a
    LEFT SEMI against the supplier dimension."""
    li = load(spark, sf_dir, "lineitem")
    blue = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%blue%"))
        .select("p_partkey")
    )
    in96 = (
        F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    ) & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    pairs = (
        li.join(F.broadcast(blue), li.l_partkey == blue.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in96, dec("l_quantity")).otherwise(None)).alias("q96"),
            F.sum(dec("l_quantity")).alias("qtot"),
        )
    )
    candidates = (
        pairs.filter((F.lit(2) * F.col("q96")) > F.col("qtot"))
        .select("l_suppkey")
        .distinct()
    )
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(
            F.broadcast(candidates),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "leftsemi",
        )
        .select("s_suppkey", "s_name")
    )


@query(
    "q21_suppliers_kept_waiting",
    oracle="""
    WITH late AS (
        SELECT DISTINCT l_orderkey, l_suppkey
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    ),
    l1 AS (
        SELECT DISTINCT l.l_orderkey, l.l_suppkey
        FROM lineitem l
        JOIN orders   ON o_orderkey = l.l_orderkey
        JOIN supplier ON s_suppkey = l.l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        JOIN region   ON r_regionkey = n_regionkey
        WHERE r_name = 'EUROPE' AND o_orderstatus = 'F'
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
    )
    GROUP BY s_name
    """,
    tags=("join", "semi", "anti", "tpch"),
)
def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped: EUROPE-region suppliers who were the SOLE late
    shipper on finalized multi-supplier orders — the chained
    EXISTS / NOT-EXISTS composition, the hardest anti/semi shape in the
    canonical suite ("late" = shipped >60 days after order, the
    dataset's receipt>commit stand-in). ``numwait`` counts the orders
    each supplier singly delayed (distinct order-supplier pairs).

    Plan: the lineitem-orders lateness residual is computed ONCE and
    checkpointed — l1 (nation+status restricted) and l3 (unrestricted) are
    both derived from it. The EXISTS becomes a LEFT SEMI join (same
    orderkey, different supplier — equi on the key, inequality as
    residual) against the distinct order-supplier universe; the
    NOT EXISTS becomes a LEFT ANTI against the late set with the same
    key/residual split. Both shuffle on orderkey only; supplier, nation
    and region broadcast."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus"
    )
    lo = (
        li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
    ).localCheckpoint(eager=True)
    late = lo.select("l_orderkey", "l_suppkey").distinct()
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur_supp = (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name")
    )
    l1 = (
        lo.filter(F.col("o_orderstatus") == "F")
        .join(
            F.broadcast(eur_supp.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "leftsemi",
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    all_pairs = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    ).distinct()
    late3 = late.select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    waited = (
        l1.join(
            all_pairs,
            (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
            "leftsemi",
        ).join(
            late3,
            (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
            "leftanti",
        )
    )
    return (
        waited.join(
            F.broadcast(eur_supp), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


MB_TOP_K = 40

_BASKET_ORACLE = f"""
WITH li AS (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM li),
item AS (SELECT pk, COUNT(*) AS cnt FROM li GROUP BY 1),
pair AS (
    SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS co
    FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
    GROUP BY 1, 2
)
SELECT part_a, part_b,
       CAST(co AS BIGINT) AS co_orders,
       ROUND(CAST(co AS DOUBLE) / CAST(ia.cnt AS DOUBLE), 6) + 0.0
           AS conf_a_to_b,
       ROUND(CAST(co AS DOUBLE) / CAST(ib.cnt AS DOUBLE), 6) + 0.0
           AS conf_b_to_a,
       ROUND(CAST(co AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
             / (CAST(ia.cnt AS DOUBLE) * CAST(ib.cnt AS DOUBLE)), 6) + 0.0
           AS lift
FROM pair
JOIN item ia ON ia.pk = part_a
JOIN item ib ON ib.pk = part_b
CROSS JOIN n
ORDER BY co DESC, part_a ASC, part_b ASC
LIMIT {MB_TOP_K}
"""


@query("market_basket_rules", oracle=_BASKET_ORACLE, tags=("relational", "graph"))
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: top-{MB_TOP_K} part
    pairs by co-order support, with both conditional confidences and
    lift. The pair table comes from the basket self-join on the order
    key (co-partitioned equi-join, map-side-combined counts); item
    counts and the global basket count attach to the PAIR table
    (|parts|² at most, in practice the co-ordered subset), never the
    line-item stream. Metrics are single IEEE divisions of exact
    integer counts, rounded — deterministic; the top-k carries a full
    (support, part_a, part_b) total order."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    li = li.localCheckpoint(eager=True)
    n_orders = li.select("ok").distinct().count()  # bounded: one scalar
    item = li.groupBy(F.col("pk")).agg(F.count(F.lit(1)).alias("cnt"))
    a = li.select("ok", F.col("pk").alias("part_a"))
    b = li.select("ok", F.col("pk").alias("part_b"))
    pair = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    ia = item.select(F.col("pk").alias("part_a"), F.col("cnt").alias("ca"))
    ib = item.select(F.col("pk").alias("part_b"), F.col("cnt").alias("cb"))
    co_d = F.col("co").cast("double")
    out = (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("co").cast("bigint").alias("co_orders"),
            (F.round(co_d / F.col("ca").cast("double"), 6) + F.lit(0.0)).alias(
                "conf_a_to_b"
            ),
            (F.round(co_d / F.col("cb").cast("double"), 6) + F.lit(0.0)).alias(
                "conf_b_to_a"
            ),
            (
                F.round(
                    co_d
                    * F.lit(float(n_orders))
                    / (F.col("ca").cast("double") * F.col("cb").cast("double")),
                    6,
                )
                + F.lit(0.0)
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.col("co_orders").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    ).limit(MB_TOP_K)


_SKYLINE_ORACLE = """
WITH p AS (
    SELECT p_partkey,
           CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c,
           CAST(p_size AS BIGINT) AS size
    FROM part
),
w AS (
    SELECT p_partkey, price_c, size,
           MAX(size) OVER (ORDER BY price_c
                           RANGE BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS pmax,
           MAX(size) OVER (PARTITION BY price_c) AS smax
    FROM p
)
SELECT p_partkey, price_c, size
FROM w
WHERE (pmax IS NULL OR size > pmax) AND size = smax
"""


@query("skyline_pareto_parts", oracle=_SKYLINE_ORACLE, tags=("relational",))
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline over part: the Pareto frontier minimizing retail
    price and maximizing size — no part is cheaper without being
    smaller. Spark runs the distributed form (bucket-dominance
    prefilter + exact two-window pass on the near-frontier candidates,
    operators/skyline.py); the oracle runs the exact windows over the
    FULL table, so the hash compare proves the prefilter dropped only
    dominated rows. Price is held in cents via FLOOR(x*100 + 0.5)
    (registry rule 2: DuckDB rounds double->int casts, Spark
    truncates)."""
    from c3dc_etl_spark.operators.skyline import skyline_2d

    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price_c"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    return skyline_2d(p, "price_c", "size")


_SETOPS_ORACLE = """
WITH a AS (
    SELECT l_partkey % 50 AS k FROM lineitem WHERE l_quantity >= 25
),
b AS (
    SELECT l_partkey % 50 AS k FROM lineitem WHERE l_returnflag = 'R'
),
ops AS (
    SELECT 'intersect_all' AS op, k FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    UNION ALL
    SELECT 'except_all', k FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    UNION ALL
    SELECT 'intersect_distinct', k FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
    UNION ALL
    SELECT 'except_distinct', k FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
)
SELECT op, CAST(k AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n
FROM ops GROUP BY op, k
"""


@query("set_ops_bag_semantics", oracle=_SETOPS_ORACLE, tags=("relational",))
def set_ops_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI set-operator multiplicity probe (the null_semantics_probe
    pattern for INTERSECT/EXCEPT): bag forms keep min/excess
    multiplicities (INTERSECT ALL / EXCEPT ALL), distinct forms
    collapse them — Spark's intersectAll/exceptAll against DuckDB's
    operators, multiplicities hashed per key. Physical shape: each bag
    op is one partial-agg'd shuffle on the value key (Spark plans
    them as aggregates over a count-tagged union) — no sort, no join."""
    li = load(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") >= 25).select(
        (F.col("l_partkey") % 50).cast("bigint").alias("k")
    )
    b = li.filter(F.col("l_returnflag") == "R").select(
        (F.col("l_partkey") % 50).cast("bigint").alias("k")
    )
    parts = [
        ("intersect_all", a.intersectAll(b)),
        ("except_all", a.exceptAll(b)),
        ("intersect_distinct", a.intersect(b)),
        ("except_distinct", a.subtract(b)),
    ]
    out = None
    for tag, df in parts:
        c = df.groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        ).select(F.lit(tag).alias("op"), "k", "n")
        out = c if out is None else out.unionByName(c)
    return out


_SHARE_ORACLE = """
WITH rev AS (
    SELECT r_name, n_name,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS nrev
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY r_name, n_name
)
SELECT r_name, n_name,
       CAST(nrev AS DOUBLE) AS nation_revenue,
       CAST(CAST(nrev AS DOUBLE)
            / CAST(SUM(nrev) OVER (PARTITION BY r_name) AS DOUBLE)
            AS DOUBLE) AS share_in_region,
       CAST(CAST(SUM(nrev) OVER (PARTITION BY r_name) AS DOUBLE)
            / CAST(SUM(nrev) OVER () AS DOUBLE)
            AS DOUBLE) AS region_share_total
FROM rev
"""


@query("share_of_parent_revenue", oracle=_SHARE_ORACLE, tags=("relational",))
def share_of_parent_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report at two hierarchy levels: each nation's revenue
    share within its region and each region's share of the total —
    the reporting shape behind every "percent of parent" drilldown.
    The windows run over the ALREADY-AGGREGATED 25-row nation frame
    (never the fact table), so the unpartitioned total-sum window is a
    constant-size frame at any data scale; shares are single IEEE
    divisions of exact decimal sums (registry rule 1)."""
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.sum(dec("o_totalprice")).alias("nrev"))
    )
    w_region = Window.partitionBy("r_name")
    w_all = Window.partitionBy()
    return rev.select(
        "r_name",
        "n_name",
        F.col("nrev").cast("double").alias("nation_revenue"),
        (
            F.col("nrev").cast("double")
            / F.sum("nrev").over(w_region).cast("double")
        ).alias("share_in_region"),
        (
            F.sum("nrev").over(w_region).cast("double")
            / F.sum("nrev").over(w_all).cast("double")
        ).alias("region_share_total"),
    )


_NULLJOIN_ORACLE = """
WITH t(k) AS (VALUES (1), (2), (NULL)),
s(v) AS (VALUES (2), (3), (NULL)),
r AS (
    SELECT 'inner_eq' AS variant, COUNT(*) AS n
    FROM t JOIN s ON k = v
    UNION ALL
    SELECT 'inner_nullsafe', COUNT(*)
    FROM t JOIN s ON k IS NOT DISTINCT FROM v
    UNION ALL
    SELECT 'in_subquery', COUNT(*)
    FROM t WHERE k IN (SELECT v FROM s)
    UNION ALL
    SELECT 'not_in_null_trap', COUNT(*)
    FROM t WHERE k NOT IN (SELECT v FROM s)
    UNION ALL
    SELECT 'not_exists', COUNT(*)
    FROM t WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.v = t.k)
)
SELECT variant, CAST(n AS BIGINT) AS n_rows FROM r
"""

_NULLJOIN_SPARK_SQL = """
WITH t AS (SELECT col1 AS k FROM VALUES (1), (2), (NULL)),
s AS (SELECT col1 AS v FROM VALUES (2), (3), (NULL)),
r AS (
    SELECT 'inner_eq' AS variant, COUNT(*) AS n
    FROM t JOIN s ON k = v
    UNION ALL
    SELECT 'inner_nullsafe', COUNT(*)
    FROM t JOIN s ON k IS NOT DISTINCT FROM v
    UNION ALL
    SELECT 'in_subquery', COUNT(*)
    FROM t WHERE k IN (SELECT v FROM s)
    UNION ALL
    SELECT 'not_in_null_trap', COUNT(*)
    FROM t WHERE k NOT IN (SELECT v FROM s)
    UNION ALL
    SELECT 'not_exists', COUNT(*)
    FROM t WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.v = t.k)
)
SELECT variant, CAST(n AS BIGINT) AS n_rows FROM r
"""


@query("nullsafe_join_probe", oracle=_NULLJOIN_ORACLE, tags=("conformance",))
def nullsafe_join_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-under-NULL conformance probe (null_semantics_probe's join
    sibling), run through the SQL surface: `=` drops NULL keys (1 row),
    IS NOT DISTINCT FROM matches NULL-NULL (2 rows), IN keeps only the
    definite match (1), NOT IN against a set containing NULL is the
    classic three-valued-logic trap (0 rows — every comparison is
    UNKNOWN), and the NOT EXISTS rewrite gives the answer users meant
    (2 rows). Both engines run textually equivalent SQL; Spark plans
    the NOT IN as a null-aware anti join (BroadcastNestedLoopJoin over
    the 3-row literal frame — bounded by construction, allowlisted)."""
    return spark.sql(_NULLJOIN_SPARK_SQL)


_BITAGG_ORACLE = """
SELECT event_type,
       CAST(BIT_AND(user_id) AS BIGINT) AS band,
       CAST(BIT_OR(user_id) AS BIGINT) AS bor,
       CAST(BIT_XOR(user_id) AS BIGINT) AS bxor,
       CAST(BIT_XOR(CAST(CONCAT('0x', SUBSTR(MD5(CAST(user_id AS VARCHAR)
                    || ':' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT))
            AS BIGINT) AS xor_checksum
FROM events
GROUP BY event_type
"""


@query("bitwise_agg_probe", oracle=_BITAGG_ORACLE, tags=("agg", "conformance"))
def bitwise_agg_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate conformance probe plus the XOR-fold checksum
    idiom: BIT_AND/BIT_OR/BIT_XOR per key, and an order-independent
    per-group content checksum (XOR of portable 32-bit row hashes) —
    the commutative/associative fold that verifies replicated or
    re-partitioned data without any ordering guarantee. All map-side
    combinable; one exchange on the group key."""
    from c3dc_etl_spark.operators.dedup import hash32

    ev = load(spark, sf_dir, "events")
    row_h = hash32(
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.col("event_id").cast("string"),
        )
    )
    return ev.groupBy("event_type").agg(
        F.bit_and("user_id").cast("bigint").alias("band"),
        F.bit_or("user_id").cast("bigint").alias("bor"),
        F.bit_xor("user_id").cast("bigint").alias("bxor"),
        F.bit_xor(row_h).cast("bigint").alias("xor_checksum"),
    )


_CHECKSUM_ORACLE = """
WITH canon AS (
    SELECT o_orderstatus AS status,
           CAST(o_orderkey AS VARCHAR) || '|'
               || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
               AS s
    FROM orders
),
perturbed AS (
    SELECT o_orderstatus AS status,
           CAST(o_orderkey AS VARCHAR) || '|'
               || CAST(CAST(o_totalprice AS DECIMAL(18,2))
                       + CASE WHEN o_orderkey = 7 THEN 1 ELSE 0 END
                       AS VARCHAR) AS s
    FROM orders
),
c1 AS (
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n1,
           CAST(SUM(CAST(CONCAT('0x', SUBSTR(MD5(s), 1, 8)) AS BIGINT))
                AS BIGINT) AS sum1
    FROM canon GROUP BY status
),
c2 AS (
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n2,
           CAST(SUM(CAST(CONCAT('0x', SUBSTR(MD5(s), 1, 8)) AS BIGINT))
                AS BIGINT) AS sum2
    FROM perturbed GROUP BY status
)
SELECT c1.status, n1, n2, sum1, sum2,
       CAST(n1 = n2 AND sum1 = sum2 AS INT) AS match
FROM c1 JOIN c2 ON c1.status = c2.status
"""


@query("table_checksum_reconcile", oracle=_CHECKSUM_ORACLE, tags=("quality",))
def table_checksum_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica reconciliation by per-group content checksums: canonical
    row serialization (decimal-normalized — double formatting is not
    engine-portable, decimal rendering is) -> portable 32-bit row hash
    -> order-independent SUM fold per group, compared against a replica
    with ONE perturbed row. Exactly the groups containing the tampered
    key flag as mismatched — localizing a diff to a group costs one
    scan per side and k result rows, no row-by-row join; at 100 TB this
    is how replicas are verified (per-partition checksums, then drill
    into the one mismatched group)."""
    from c3dc_etl_spark.operators.dedup import hash32

    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderkey").alias("k"),
        dec("o_totalprice").alias("p"),
    )
    canon = base.select(
        "status",
        F.concat(
            F.col("k").cast("string"), F.lit("|"), F.col("p").cast("string")
        ).alias("s"),
    )
    perturbed = base.select(
        "status",
        F.concat(
            F.col("k").cast("string"),
            F.lit("|"),
            (
                F.col("p")
                + F.when(F.col("k") == 7, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("decimal(18,2)")
            .cast("string"),
        ).alias("s"),
    )

    def _sums(df, n, s):
        return df.groupBy("status").agg(
            F.count(F.lit(1)).cast("bigint").alias(n),
            F.sum(hash32(F.col("s"))).cast("bigint").alias(s),
        )

    c1 = _sums(canon, "n1", "sum1")
    c2 = _sums(perturbed, "n2", "sum2")
    return c1.join(c2, "status").select(
        "status",
        "n1",
        "n2",
        "sum1",
        "sum2",
        (
            (F.col("n1") == F.col("n2")) & (F.col("sum1") == F.col("sum2"))
        )
        .cast("int")
        .alias("match"),
    )


GINI_CONC_SCALE = 1_000_000

_LORENZ_ORACLE = f"""
WITH rev AS (
    SELECT o_custkey,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT cents,
           CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS i
    FROM rev
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS total,
           CAST(SUM(i * cents) AS BIGINT) AS weighted
    FROM ranked
)
SELECT n, total,
       CAST((2 * CAST(weighted AS HUGEINT)
             - (n + 1) * CAST(total AS HUGEINT)) * {GINI_CONC_SCALE}
            // (CAST(n AS HUGEINT) * total) AS BIGINT) AS gini_x1e6,
       CAST(CAST((SELECT SUM(cents) FROM ranked
                  WHERE i > n - GREATEST(1, n // 10)) AS HUGEINT)
            * {GINI_CONC_SCALE} // total AS BIGINT)
           AS top_decile_share_x1e6
FROM tot
"""


@query("revenue_concentration_gini", oracle=_LORENZ_ORACLE, tags=("relational",))
def revenue_concentration_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration audit: the Gini coefficient of per-customer
    revenue from the rank-weighted closed form G = (2·Σi·x_i −
    (n+1)·Σx_i)/(n·Σx_i) over ascending-sorted exact cents — all
    integer arithmetic, emitted in 1e-6 fixed point, plus the top-decile
    revenue share. One customer-keyed aggregate, one rank window over
    the aggregated frame (bounded by customers, not orders), one
    1-row fold. The deterministic (cents, custkey) rank order makes the
    weighted sum reproducible under ties. Cents come from
    FLOOR(x*100 + 0.5) — registry rule 2: DuckDB ROUNDS double->int
    casts while Spark truncates, so a bare cast would drift by one
    cent on half the rows."""
    orders = load(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("cents")
    )
    w = Window.orderBy("cents", "o_custkey")
    ranked = rev.select(
        "cents", F.row_number().over(w).cast("bigint").alias("i")
    )

    ranked = ranked.localCheckpoint(eager=True)
    tot = ranked.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total"),
        F.sum(F.col("i") * F.col("cents")).cast("bigint").alias("weighted"),
    )
    row = tot.collect()[0]
    n, total, weighted = int(row["n"]), int(row["total"]), int(row["weighted"])
    top_n = max(1, n // 10)
    top_sum = int(
        ranked.filter(F.col("i") > n - top_n)
        .agg(F.sum("cents").alias("s"))
        .collect()[0]["s"]
    )
    gini = (2 * weighted - (n + 1) * total) * GINI_CONC_SCALE // (n * total)
    top_share = top_sum * GINI_CONC_SCALE // total
    return ranked.sparkSession.createDataFrame(
        [(n, total, gini, top_share)],
        "n BIGINT, total BIGINT, gini_x1e6 BIGINT, top_decile_share_x1e6 BIGINT",
    )


_FANOUT_ORACLE = """
WITH fan AS (
    SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS fanout
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderkey
)
SELECT fanout,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(fanout) AS BIGINT) AS n_rows_out
FROM fan GROUP BY fanout
"""


@query("join_fanout_audit", oracle=_FANOUT_ORACLE, tags=("quality", "relational"))
def join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality audit: the fan-out histogram of the orders x
    lineitem join (per join key, how many output rows; then how many
    keys share each fan-out). An unexpected 1:N explosion — the classic
    silent row-duplication bug when a 'dimension' turns out non-unique
    — shows up as mass at high fan-outs BEFORE the joined data ships.
    Two aggregates, both map-side combinable; the expensive join output
    is never materialized wide (count only)."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    fan = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("fanout"))
    )
    return fan.groupBy("fanout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("fanout").cast("bigint").alias("n_rows_out"),
    )


_LATERAL_TOPK_SQL = """
SELECT n_name, c.c_custkey, c.c_acctbal
FROM nation JOIN LATERAL (
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_nationkey = n_nationkey
    ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 3
) c{on_true}
"""


@query(
    "lateral_topk_per_group",
    oracle=_LATERAL_TOPK_SQL.format(on_true=" ON TRUE"),
    tags=("relational", "conformance"),
)
def lateral_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — the SQL
    surface for per-group top-k (top-3 customers by balance per
    nation), run through spark.sql on textually equivalent SQL in both
    engines (DuckDB needs the explicit ON TRUE; Spark rejects it —
    the one dialect seam). The probe pins that Spark DECORRELATES the
    per-row LIMIT into WindowGroupLimit (partial map-side top-k, one
    exchange, final top-k — no per-outer-row re-execution), i.e. the
    lateral spelling costs the same as the ROW_NUMBER spelling while
    DuckDB evaluates the correlated form natively; identical rows
    prove the decorrelation is semantics-preserving, deterministic
    under the key-extended tie-break (registry rule 4)."""
    for t in ("nation", "customer"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_TOPK_SQL.format(on_true=""))


_ROLLUP_ORACLE = """
SELECT r_name, n_name,
       CAST(GROUPING(r_name) AS BIGINT) AS g_region,
       CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


@query(
    "agg_rollup_hierarchy",
    oracle=_ROLLUP_ORACLE,
    tags=("relational", "conformance"),
)
def agg_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP over the region > nation hierarchy with
    GROUPING() flags — the drill-down report shape (leaf rows, per-
    region subtotals, grand total in ONE aggregation pass; the
    complement of agg_grouping_cube's full lattice). GROUPING() flags
    are emitted because rollup NULLs are indistinguishable from data
    NULLs without them — the conformance point this query pins
    cross-engine, beside the exact-DECIMAL revenue discipline (rule 1).
    One ExpandExec + one exchange: the rollup lattice is computed by
    row expansion, never by re-scanning per level."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nat, cust.c_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("bigint").alias("g_region"),
        F.grouping("n_name").cast("bigint").alias("g_nation"),
        dsum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    ).select(
        "r_name", "n_name", "g_region", "g_nation", "revenue", "n_orders"
    )


_HOF_ORACLE = """
WITH d AS (
    SELECT doc_id, STR_SPLIT(text, ' ') AS toks FROM documents
)
SELECT doc_id,
       CAST(LEN(LIST_FILTER(toks, t -> LENGTH(t) >= 6)) AS BIGINT)
           AS n_long,
       CAST(LIST_REDUCE(LIST_PREPEND(0,
            LIST_TRANSFORM(toks, t -> LENGTH(t))),
            (a, x) -> a + x) AS BIGINT) AS total_len,
       LEN(LIST_FILTER(toks, t -> t = 'the')) > 0 AS has_the,
       LEN(LIST_FILTER(toks, t -> LENGTH(t) > 0)) = LEN(toks)
           AS all_nonempty,
       ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
            LIST_TRANSFORM(LIST_FILTER(toks, t -> LENGTH(t) >= 9),
                           t -> LOWER(t)))), ';') AS long_vocab
FROM d
"""


@query(
    "higher_order_functions_probe",
    oracle=_HOF_ORACLE,
    tags=("relational", "conformance"),
)
def higher_order_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function conformance in one projection:
    filter (predicate lambda), aggregate (sequential integer fold),
    exists, forall, and the transform -> distinct -> sort -> join
    chain — Spark's lambda surface against DuckDB's LIST_* family.
    Distinct-then-sort is order-pinned before serialization (the
    driver canonicalizer cannot sort array cells, registry note), and
    the fold is integer so no fold-order discipline is needed. Pure
    codegen projection: zero exchanges, zero UDFs — the shape text
    feature extraction takes at corpus scale."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    vocab_arr = F.array_sort(
        F.array_distinct(
            F.transform(
                F.filter(F.col("toks"), lambda t: F.length(t) >= 9),
                F.lower,
            )
        )
    )
    # empty -> NULL explicitly: DuckDB ARRAY_TO_STRING([], ';') is NULL
    # while Spark array_join gives '' (registry serialization note)
    long_vocab = F.when(F.size(vocab_arr) > 0, F.array_join(vocab_arr, ";"))
    return docs.select(
        "doc_id",
        F.size(F.filter(F.col("toks"), lambda t: F.length(t) >= 6))
        .cast("bigint")
        .alias("n_long"),
        F.aggregate(
            F.col("toks"),
            F.lit(0).cast("bigint"),
            lambda a, t: a + F.length(t).cast("bigint"),
        ).alias("total_len"),
        F.exists(F.col("toks"), lambda t: t == "the").alias("has_the"),
        F.forall(F.col("toks"), lambda t: F.length(t) > 0).alias(
            "all_nonempty"
        ),
        long_vocab.alias("long_vocab"),
    )


_STRFN_ORACLE = """
SELECT p_partkey,
       CAST(LEVENSHTEIN(p_name, REVERSE(p_name)) AS BIGINT) AS lev_palin,
       LPAD(CAST(p_partkey AS STRING), 10, '0') AS padded_key,
       TRANSLATE(p_name, 'aeiou', 'AEIOU') AS vowels_up,
       CAST(LENGTH(p_name) - LENGTH(REPLACE(p_name, ' ', '')) AS BIGINT)
           AS n_spaces,
       CASE WHEN LEN(REGEXP_EXTRACT_ALL(p_name, '[a-z]+')) > 0
            THEN ARRAY_TO_STRING(REGEXP_EXTRACT_ALL(p_name, '[a-z]+'), ';')
       END AS words,
       CAST(INSTR(p_name, 'red') AS BIGINT) AS red_at,
       LEFT(p_name, 5) AS prefix5
FROM part
"""


@query(
    "string_functions_probe",
    oracle=_STRFN_ORACLE,
    tags=("relational", "conformance"),
)
def string_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function conformance in one codegen projection:
    levenshtein (edit distance to the reversed name — nontrivial
    distances on real strings), lpad zero-padding, translate,
    occurrence counting by length difference, regexp_extract_all with
    an RE2-safe class pattern (serialized with the empty->NULL
    discipline), 1-based substring position (Spark instr = DuckDB
    INSTR), and left-prefix slicing. These are the functions a
    harmonization mapping reaches for first; each has a same-named
    DuckDB twin whose semantics are pinned here rather than assumed."""
    part = load(spark, sf_dir, "part")
    # group index 0 explicitly: Spark defaults regexp_extract_all to
    # group 1 (errors on group-free patterns) while DuckDB defaults to 0
    words_arr = F.expr("regexp_extract_all(p_name, '[a-z]+', 0)")
    return part.select(
        "p_partkey",
        F.levenshtein(F.col("p_name"), F.reverse(F.col("p_name")))
        .cast("bigint")
        .alias("lev_palin"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        F.translate(F.col("p_name"), "aeiou", "AEIOU").alias("vowels_up"),
        (
            F.length(F.col("p_name"))
            - F.length(F.regexp_replace(F.col("p_name"), " ", ""))
        )
        .cast("bigint")
        .alias("n_spaces"),
        F.when(F.size(words_arr) > 0, F.array_join(words_arr, ";")).alias(
            "words"
        ),
        F.instr(F.col("p_name"), "red").cast("bigint").alias("red_at"),
        F.substring(F.col("p_name"), 1, 5).alias("prefix5"),
    )


_AGG_FILTER_SQL = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_all,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS rev_open,
       CAST(MAX(o_orderkey) FILTER (WHERE o_orderkey % 2 = 0) AS BIGINT)
           AS max_even_key
FROM orders
GROUP BY o_orderpriority
"""


@query(
    "aggregate_filter_probe",
    oracle=_AGG_FILTER_SQL,
    tags=("relational", "conformance"),
)
def aggregate_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER clause conformance (SQL:2003 T612): several
    differently-filtered aggregates in ONE grouping pass — the idiom
    that replaces N self-joins or N CASE-wrapped sums in reporting SQL.
    Run through spark.sql on TEXTUALLY IDENTICAL SQL in both engines
    (no dialect seam at all here); the decimal-sum discipline (rule 1)
    rides inside the filtered SUM, and a filter that matches nothing
    yields NULL (not 0) in both — the conformance point."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_AGG_FILTER_SQL)


_ARGMAX_ORACLE = """
SELECT c_nationkey,
       MAX_BY(c_custkey, CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
                         * 10000000 + c_custkey) AS richest_cust,
       MIN_BY(c_custkey, CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
                         * 10000000 + c_custkey) AS poorest_cust,
       CAST(MAX(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS max_bal_cents
FROM customer
GROUP BY c_nationkey
"""


@query(
    "argmax_aggregate_probe",
    oracle=_ARGMAX_ORACLE,
    tags=("relational", "conformance"),
)
def argmax_aggregate_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAX_BY/MIN_BY (argmax aggregate) conformance: the single-pass
    partial-aggregable alternative to a ROW_NUMBER window for
    one-winner-per-group. The pitfall pinned here: on TIED ordering
    values both engines pick an ARBITRARY row, so portable argmax needs
    a totally ordered key — the probe composes exact balance cents with
    the unique customer key (cents * 1e7 + custkey), making the winner
    deterministic by construction. Map-side combinable, no window, no
    shuffle of payload columns."""
    cust = load(spark, sf_dir, "customer")
    okey = (
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
        * F.lit(10_000_000)
        + F.col("c_custkey")
    )
    return cust.groupBy("c_nationkey").agg(
        F.max_by("c_custkey", okey).alias("richest_cust"),
        F.min_by("c_custkey", okey).alias("poorest_cust"),
        F.max(
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("max_bal_cents"),
    )


_GSETS_SQL = """
SELECT r_name, n_name,
       CAST(GROUPING(r_name) AS BIGINT) AS g_region,
       CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY GROUPING SETS ((r_name), (n_name), ())
"""


@query(
    "grouping_sets_probe",
    oracle=_GSETS_SQL,
    tags=("relational", "conformance"),
)
def grouping_sets_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the third member of the grouping
    lattice beside CUBE (T102 full lattice) and ROLLUP (T193 hierarchy
    prefix): an ARBITRARY set list ((region), (nation), ()) that
    neither shorthand can express, still ONE ExpandExec pass on
    textually identical SQL in both engines, with GROUPING() flags
    disambiguating the set each output row belongs to. The report shape
    for 'totals by A, totals by B, grand total — but no (A, B)
    detail'."""
    for t in ("orders", "customer", "nation", "region"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_GSETS_SQL)
