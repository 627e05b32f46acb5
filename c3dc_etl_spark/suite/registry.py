"""Query registry + shared helpers for Spark<->DuckDB oracle parity.

Cross-engine determinism rules applied throughout the suite (each one is a
real divergence between Spark and DuckDB that breaks value-hash compares):

1. Money/aggregate sums go through DECIMAL so the sum is exact and
   engine-order-independent; the final cast to DOUBLE is correctly rounded
   and therefore bit-identical in both engines.
2. double->int conversions use floor(x + 0.5): DuckDB *rounds* on
   CAST(double AS BIGINT) while Spark *truncates*.
3. Sort keys are never nullable (coalesce to sentinels): Spark defaults to
   NULLS FIRST on ASC, DuckDB to NULLS LAST.
4. Every LIMIT/top-k is ordered by a key-extended deterministic ordering.
5. Timestamps are emitted as formatted strings (wall-clock stable under
   any session timezone).
6. Cross-engine hashing uses md5 (identical hex in both); never
   engine-native hash().
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register a suite query; ``oracle`` is DuckDB SQL over the
    pre-registered table views, or None for non-SQL-expressible ops
    (driver falls back to a rows-only check).

    Intermediates a query shares between consumers are eager local
    checkpoints: their blocks live as long as the returned frame, so
    nothing accumulates across a long-lived session and nothing needs
    releasing between queries.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "", tags=tuple(tags)
        )
        return fn

    return deco


def read_events_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read an events parquet WITHOUT mutating session confs unless the
    file genuinely stores TIMESTAMP(NANOS). Spark cannot represent nanos
    (PARQUET_TYPE_ILLEGAL at schema inference); the only read path is the
    legacy ``nanosAsLong`` conf, which is consulted again at scan
    execution, so it cannot be restored before the caller collects.
    Setting it ONLY on the fallback scopes the stickiness to sessions
    that actually touch nanos parquet — a session over micros/NTZ data
    (all current testdata) keeps a pristine conf (ADVICE r2/r3 item)."""
    try:
        return spark.read.parquet(path)
    except Exception as e:  # noqa: BLE001 — classify by error text below
        msg = str(e)
        if "PARQUET_TYPE_ILLEGAL" not in msg and "NANOS" not in msg.upper():
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one test table. ``events.ts`` may be TIMESTAMP(NANOS) parquet,
    which Spark cannot read natively (PARQUET_TYPE_ILLEGAL): read it as
    long nanos (legacy conf, set only when needed — see
    read_events_parquet) and expose ``ts_us`` (epoch microseconds,
    bigint) instead — arithmetic, engine- and timezone-independent
    (DuckDB: EPOCH_US(ts))."""
    if table == "events":
        # Self-contained determinism: ts_us (and every events oracle
        # compare) assumes epoch math on the naive wall-clock value, so
        # pin the session tz here rather than relying on the session
        # factory having done it.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = read_events_parquet(spark, f"{sf_dir}/{table}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts_us", F.expr("ts div 1000")).drop("ts")
        else:
            # timestamp or timestamp_ntz: with session tz pinned to UTC the
            # NTZ->TZ cast is epoch-identical to DuckDB's EPOCH_US(ts) on the
            # naive wall-clock value.
            df = df.withColumn(
                "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
            ).drop("ts")
        return df
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# Deterministic cross-engine numeric helpers
# ---------------------------------------------------------------------------

DAY_US = 86_400_000_000


def day_bucket(col_name: str = "ts_us", unit: int = DAY_US) -> Column:
    """Epoch-microseconds -> integer day bucket, the ONE cross-engine
    form: `div` truncates toward zero exactly like DuckDB's `//`
    (verified: -5 // 2 = -2 in DuckDB). A floor(x / N) double-division
    spelling agrees only for non-negative timestamps and reintroduces
    FP rounding — use this helper, never re-derive the idiom."""
    return F.expr(f"{col_name} div {unit}")


def dec(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """Exact decimal view of a double column (values were generated at
    2dp, so this round-trips exactly in both engines)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent exact sum of a money-like double column, emitted
    as a (bit-identical) double."""
    return F.sum(dec(col, scale)).cast("double")


def davg(col: Column | str, scale: int = 2, out_dp: int = 6) -> Column:
    """Deterministic average: exact decimal sum / count, rounded."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(dec(c, scale)).cast("double") / F.count(c), out_dp)


def int_round(col: Column | str) -> Column:
    """Half-up rounding to integer that is identical in Spark and DuckDB
    (Spark CAST truncates, DuckDB CAST rounds — so neither is used).
    Mirrors reference integer conversion int(float(v)) + round()
    (etl/ccdi/c3dc_etl.py:1134-1138)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c + F.lit(0.5)).cast("bigint")


ORACLE_INT_ROUND = "CAST(FLOOR({x} + 0.5) AS BIGINT)"
