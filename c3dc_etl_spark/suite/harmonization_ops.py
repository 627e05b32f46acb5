"""Value replacement & scalar function semantics (SURVEY.md §2.3) applied
to the generic test tables so the DuckDB oracle can verify them.

These are the same Column-expression building blocks the harmonization
compiler (c3dc_etl_spark.mapping) emits; here they run standalone over
events/lineitem/orders so every semantic (case-insensitive first-match
replacement chains, wildcards, defaults, horizontal sums, multi-value
normalization, enum case alignment, numeric guards) gets an oracle check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c3dc_etl_spark.suite.registry import load, query


@query(
    "replace_chain",
    oracle="""
    SELECT o_orderkey,
           CASE
             WHEN LOWER(TRIM(o_orderpriority)) = '1-urgent' THEN 'Critical'
             WHEN LOWER(TRIM(o_orderpriority)) = '2-high' THEN 'High'
             WHEN LOWER(TRIM(o_orderpriority)) = '3-medium' THEN 'Medium'
             WHEN TRIM(o_orderpriority) <> '' THEN 'Routine'
             ELSE 'Unknown'
           END AS priority_harmonized
    FROM orders
    """,
    tags=("harmonize", "expr"),
)
def replace_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1/V2/V3/V7: ordered first-match-wins replacement chain with
    case-insensitive trimmed matching, '+' (non-empty) wildcard and '*'
    (always) wildcard fallback — the reference's core per-field evaluator
    is exactly this CASE/WHEN interpreter (is_replacement_match,
    etl/ccdi/c3dc_etl.py:173-216; first-match break :938-942). Compiles
    to a whole-stage-codegen when-chain: no UDF, no shuffle."""
    orders = load(spark, sf_dir, "orders")
    src = F.lower(F.trim(F.col("o_orderpriority")))
    return orders.select(
        "o_orderkey",
        F.when(src == "1-urgent", "Critical")
        .when(src == "2-high", "High")
        .when(src == "3-medium", "Medium")
        .when(F.trim(F.col("o_orderpriority")) != "", "Routine")  # '+' wildcard
        .otherwise("Unknown")  # '*' wildcard
        .alias("priority_harmonized"),
    )


@query(
    "default_coalesce",
    oracle="""
    SELECT event_id,
           COALESCE(NULLIF(TRIM(event_type), ''), 'not reported') AS event_type_filled,
           COALESCE(value, -999.0) AS value_filled
    FROM events
    """,
    tags=("harmonize", "expr"),
)
def default_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6: default_value substitution when source is ''/null (reference
    etl/ccdi/c3dc_etl.py:1084-1090; -999 sentinel convention
    etl/mci/c3dc_row_mapped_builder.py:23)."""
    events = load(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.coalesce(F.nullif(F.trim("event_type"), F.lit("")), F.lit("not reported")).alias(
            "event_type_filled"
        ),
        F.coalesce(F.col("value"), F.lit(-999.0)).alias("value_filled"),
    )


@query(
    "horizontal_sum_null",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount IS NULL OR l_tax IS NULL THEN NULL
                ELSE CAST(CAST(l_discount AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)) AS DOUBLE)
           END AS disc_plus_tax,
           CAST(CAST(ABS(l_discount) AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)) AS DOUBLE)
               AS sum_abs_first
    FROM lineitem
    """,
    tags=("harmonize", "expr"),
)
def horizontal_sum_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V10/V11: {sum} macro — horizontal addition that yields null when
    any addend is blank (etl/ccdi/c3dc_etl.py:905-935) — and
    {sum_abs_first} which abs()es the first addend
    (etl/mci/c3dc_etl.py:1733-1766). Pure column arithmetic."""
    li = load(spark, sf_dir, "lineitem")
    d = F.col("l_discount").cast("decimal(18,2)")
    t = F.col("l_tax").cast("decimal(18,2)")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_discount").isNull() | F.col("l_tax").isNull(), F.lit(None))
        .otherwise((d + t).cast("double"))
        .alias("disc_plus_tax"),
        (F.abs(F.col("l_discount")).cast("decimal(18,2)") + t)
        .cast("double")
        .alias("sum_abs_first"),
    )


@query(
    "multivalue_normalize",
    oracle="""
    SELECT o_orderkey,
           ARRAY_TO_STRING(
             LIST_SORT(LIST_DISTINCT(STRING_SPLIT(
               o_orderpriority || ';' || o_orderstatus || ';' || o_orderpriority, ';'))),
             ';') AS normalized_multi
    FROM orders
    """,
    tags=("harmonize", "array"),
)
def multivalue_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V12/V19/O1/O2: ';'-delimited multi-value cell -> split, dedupe,
    sort — the reference's array normalization for enum-array fields and
    the {race} macro's output discipline (etl/ccdi/c3dc_etl.py:576-601;
    sorted {race} etl/target/c3dc_etl.py:1106-1110). Emitted re-joined
    as a string for a type-stable cross-engine compare."""
    orders = load(spark, sf_dir, "orders")
    multi = F.concat_ws(
        ";", F.col("o_orderpriority"), F.col("o_orderstatus"), F.col("o_orderpriority")
    )
    return orders.select(
        "o_orderkey",
        F.array_join(F.array_sort(F.array_distinct(F.split(multi, ";"))), ";").alias(
            "normalized_multi"
        ),
    )


@query(
    "enum_case_normalize",
    oracle="""
    WITH enum_pv(pv) AS (VALUES ('Click'), ('Purchase'), ('Signup'), ('View'))
    SELECT e.event_id, p.pv AS event_type_cased
    FROM events e
    LEFT JOIN enum_pv p ON LOWER(TRIM(e.event_type)) = LOWER(p.pv)
    """,
    tags=("harmonize", "join"),
)
def enum_case_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V18: permissible-value case restoration — align source casing with
    the schema's PV list, null when no PV matches (reference
    _case_match_json_schema_enum_value, etl/ccdi/c3dc_etl.py:618-632).
    Broadcast join on lower(trim(col)) instead of per-row dict lookup."""
    events = load(spark, sf_dir, "events")
    pvs = spark.createDataFrame(
        [("Click",), ("Purchase",), ("Signup",), ("View",)], "pv string"
    )
    return events.join(
        F.broadcast(pvs), F.lower(F.trim(events.event_type)) == F.lower(pvs.pv), "left"
    ).select("event_id", F.col("pv").alias("event_type_cased"))


@query(
    "int_round_cast",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(FLOOR(l_extendedprice + 0.5) AS BIGINT) AS price_int,
           CAST(FLOOR(l_quantity * 1.0000000001 + 0.5) AS BIGINT) AS qty_int
    FROM lineitem
    """,
    tags=("harmonize", "expr"),
)
def int_round_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V17/V20: integer conversion with rounding, not truncation — the
    reference explicitly handles Excel float artifacts like
    3660.9999999999995 -> 3661 (etl/ccdi/c3dc_etl.py:1134-1138).
    floor(x+0.5) is used because bare CAST diverges between engines."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") + 0.5).cast("bigint").alias("price_int"),
        F.floor(F.col("l_quantity") * 1.0000000001 + 0.5).cast("bigint").alias("qty_int"),
    )


@query(
    "numeric_guard",
    oracle="""
    SELECT doc_id,
           TRY_CAST(source AS DOUBLE) AS source_num,
           TRY_CAST(CAST(n_chars AS VARCHAR) AS DOUBLE) AS n_chars_num
    FROM documents
    """,
    tags=("harmonize", "expr"),
)
def numeric_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V21: non-numeric -> null instead of error for numeric
    fields (reference etl/target/c3dc_etl.py:1330-1344, is_number
    etl/ccdi/c3dc_etl.py:151-158). try_cast keeps this semantics even
    under an ANSI-enabled session."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("source").try_cast("double").alias("source_num"),
        F.col("n_chars").cast("string").try_cast("double").alias("n_chars_num"),
    )


@query(
    "allowed_values_filter",
    oracle="""
    SELECT event_id, event_type, value
    FROM events
    WHERE LOWER(TRIM(event_type)) IN ('click', 'purchase', 'signup')
    """,
    tags=("harmonize", "filter"),
)
def allowed_values_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/V22: source-value allowed-set test — mappings with explicit
    old_values skip non-matching sources (reference _get_allowed_values,
    etl/target/c3dc_etl.py:1189-1219; is_allowed_value
    etl/ccdi/c3dc_etl.py:160-171)."""
    events = load(spark, sf_dir, "events")
    return events.filter(
        F.lower(F.trim(F.col("event_type"))).isin("click", "purchase", "signup")
    ).select("event_id", "event_type", "value")


@query(
    "required_fields_filter",
    oracle="""
    SELECT doc_id, text, lang
    FROM documents
    WHERE COALESCE(TRIM(text), '') <> ''
      AND COALESCE(TRIM(lang), '') <> ''
      AND n_chars IS NOT NULL
    """,
    tags=("harmonize", "filter"),
)
def required_fields_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P6: drop records missing any schema-required property
    ('', null, [] all count as missing — reference
    etl/ccdi/c3dc_etl.py:1140-1162; all-blank row skip
    etl/target/c3dc_etl.py:1541-1545)."""
    docs = load(spark, sf_dir, "documents")
    return docs.filter(
        (F.coalesce(F.trim("text"), F.lit("")) != "")
        & (F.coalesce(F.trim("lang"), F.lit("")) != "")
        & F.col("n_chars").isNotNull()
    ).select("doc_id", "text", "lang")


@query(
    "constant_injection",
    oracle="""
    SELECT r_regionkey,
           'c3dc' AS study_literal,
           r_name || '-' || CAST(r_regionkey AS VARCHAR) AS spliced
    FROM region
    """,
    tags=("harmonize", "expr"),
)
def constant_injection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V5/V9: '[string_literal]' constant-source mappings and {field:NAME}
    value splicing (reference etl/ccdi/c3dc_etl.py:186,897-904) — lit()
    columns and concat, folded by Catalyst."""
    region = load(spark, sf_dir, "region")
    return region.select(
        "r_regionkey",
        F.lit("c3dc").alias("study_literal"),
        F.concat(F.col("r_name"), F.lit("-"), F.col("r_regionkey").cast("string")).alias(
            "spliced"
        ),
    )


@query(
    "uuid_content_derived",
    oracle="""
    SELECT doc_id,
           SUBSTR(h, 1, 8) || '-' || SUBSTR(h, 9, 4) || '-4' || SUBSTR(h, 14, 3)
             || '-8' || SUBSTR(h, 18, 3) || '-' || SUBSTR(h, 21, 12) AS record_uuid
    FROM (SELECT doc_id, MD5('seed42:documents:' || CAST(doc_id AS VARCHAR)) AS h
          FROM documents)
    """,
    tags=("harmonize", "expr"),
)
def uuid_content_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V8: {uuid} macro, scale-safe variant. The reference draws seeded
    random.Random UUIDs in iteration order (etl/ccdi/c3dc_etl.py:415-417,
    1509-1510) — order-dependent and unreproducible under parallelism, so
    the engine derives a v4-shaped UUID from (seed, node, stable row
    identity) via md5: deterministic on any cluster at any parallelism
    (SURVEY.md §7.4-1)."""
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("seed42:documents:"), F.col("doc_id").cast("string")))
    uuid = F.concat(
        F.substring(h, 1, 8), F.lit("-"),
        F.substring(h, 9, 4), F.lit("-4"),
        F.substring(h, 14, 3), F.lit("-8"),
        F.substring(h, 18, 3), F.lit("-"),
        F.substring(h, 21, 12),
    )
    return docs.select("doc_id", uuid.alias("record_uuid"))
