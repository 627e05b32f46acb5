"""Deterministic sampling and mixture construction for training-data
pipelines.

``df.sample()`` draws from a per-partition RNG: the kept set changes
with partitioning, retries, and Spark version — useless for
reproducible corpus builds. Everything here derives the keep/repeat
decision from a HASH of a stable key instead:

- the sample is identical on every run, any partitioning, any engine
  (the md5-fold hash is portable to the DuckDB oracles);
- co-sampling is consistent: any table keyed by the same id draws the
  same decision, so features/embeddings/labels sampled separately stay
  aligned with their documents;
- mixture weights > 1 oversample by emitting deterministic copies
  (epoch-style repetition), weights < 1 downsample by thresholding.

All expressions are JVM-side codegen (hash32 = one md5 + an 8-char
fold); the only shuffle any of these introduce is none at all — they
are narrow maps/filters that preserve the input partitioning, which is
exactly what a 100 TB corpus pass needs.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from c3dc_etl_spark.operators.dedup import hash32

_DENOM = float(1 << 32)


def hash_uniform(key: Column | str, seed: str = "hs") -> Column:
    """Deterministic uniform draw in [0, 1) from a stable key: the
    32-bit md5-fold hash of ``seed:key`` scaled by 2^-32. Changing the
    seed re-draws the whole sample independently."""
    c = F.col(key) if isinstance(key, str) else key
    return hash32(F.concat(F.lit(seed + ":"), c.cast("string"))) / F.lit(_DENOM)


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, *, seed: str = "hs"
) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows by key hash. A narrow
    filter: no shuffle, partitioning preserved, reproducible anywhere."""
    return df.filter(hash_uniform(key_col, seed) < F.lit(fraction))


def _fraction_for(strata_col: str, fractions: Mapping[str, float], default: float) -> Column:
    expr: Column = F.lit(float(default))
    for value, frac in sorted(fractions.items()):
        expr = F.when(F.col(strata_col) == F.lit(value), F.lit(float(frac))).otherwise(
            expr
        )
    return expr


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: Mapping[str, float],
    *,
    default: float = 0.0,
    seed: str = "hs",
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum value gets its
    own keep-fraction (unlisted strata get ``default``). The language /
    source rebalancing step of a corpus mix, as one codegen filter."""
    return df.filter(hash_uniform(key_col, seed) < _fraction_for(strata_col, fractions, default))


def weighted_mixture(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    weights: Mapping[str, float],
    *,
    default: float = 1.0,
    seed: str = "hs",
) -> DataFrame:
    """Mixture construction with weights on BOTH sides of 1.0: weight
    2.5 emits 2 full copies of every row plus a deterministic 50%
    chance of a third; weight 0.25 keeps a quarter. Output carries
    ``copy_num`` (0-based) so downstream shuffles can decorrelate
    repeated epochs.

    copies(row) = floor(w) + (hash_uniform < frac(w)), emitted via
    explode(sequence(...)) — JVM-side, no Python, and the row blowup is
    exactly the corpus designer's chosen epoch factor."""
    w = _fraction_for(strata_col, weights, default)
    u = hash_uniform(F.col(key_col), seed)
    n_copies = F.floor(w).cast("long") + F.when(u < w - F.floor(w), 1).otherwise(0).cast(
        "long"
    )
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn(
            "copy_num",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("__n") - F.lit(1).cast("long"))),
        )
        .drop("__n")
    )


def domain_cap_sample(
    df: DataFrame,
    *,
    domain_col: str,
    id_col: str,
    cap: int,
    seed: str = "dc",
    salt_buckets: int = 16,
) -> DataFrame:
    """Keep at most ``cap`` rows per domain, chosen by deterministic
    hash order — the domain-dominance guard of corpus mixing: one giant
    domain (a crawler-heavy site) cannot swamp the mixture, and the
    per-domain subsample is uniform and reproducible on any
    partitioning (the selection key is md5(seed, id), not row order).

    Scale shape: two-phase salted ranking (the cosine_topk pattern) —
    a per-(domain, salt) local window keeps ``cap`` candidates, the
    global per-domain window ranks at most ``salt_buckets * cap``
    survivor rows; a hot domain never sends its full row set to one
    task."""
    from c3dc_etl_spark.operators.skew import salted_topk

    rank_key = F.md5(
        F.concat_ws("\x1f", F.lit(seed), F.col(id_col).cast("string"))
    )
    keyed = df.withColumn("__rk", rank_key)
    capped = salted_topk(
        keyed,
        [domain_col],
        [F.col("__rk").asc(), F.col(id_col).asc()],
        cap,
        # conv() returns StringType; cast explicitly so the pmod
        # partition key never rides implicit string→double coercion
        # (fragile under ANSI-mode changes).
        salt=F.conv(F.substring(F.col("__rk"), 1, 8), 16, 10).cast("long"),
        n_salt=salt_buckets,
    )
    return capped.drop("__rk")


def token_budget_subset(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    budget_tokens: int,
    seed: str = "tb",
) -> DataFrame:
    """Greedy token-budget corpus subsetting: order documents by a
    deterministic hash of their id (an unbiased shuffle of the corpus),
    accumulate token counts along that order, and keep the prefix whose
    running total stays within ``budget_tokens`` — the standard "give me
    N tokens of this corpus" operation of a pretraining data build,
    reproducible on any partitioning.

    Scale shape: a global ORDERED cumulative sum without a global sort —
    the two-phase scheme proven by the row-numbering operator: range-
    repartition on the hash key, per-partition running sums (distributed
    window), then add each partition's broadcast offset (one tiny
    aggregate row per partition). The ranged frame is checkpointed so the
    running-sum and offset subtrees observe the SAME range boundaries
    (independent recomputation would re-sample them).

    Output: (id, n_tokens, cum_tokens) for the kept prefix.
    """
    from c3dc_etl_spark.operators.dedup import spread
    from c3dc_etl_spark.operators.text import token_count

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    rank_key = F.md5(
        F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))
    )
    keyed = spread(df).select(
        F.col(id_col),
        rank_key.alias("__rk"),
        token_count(text_col).alias("n_tokens"),
    )
    # the checkpoint is the correctness device that keeps the
    # running-sum and offset subtrees on the SAME sampled boundaries: it
    # stores one sampling of the range partitions, and the blocks live
    # exactly as long as the frames built on it.
    ranged = (
        keyed.repartitionByRange(n_parts, F.col("__rk")).withColumn(
            "__pid", F.spark_partition_id()
        )
    ).localCheckpoint(eager=True)
    w_in = Window.partitionBy("__pid").orderBy(F.col("__rk").asc())
    running = ranged.withColumn("__run", F.sum("n_tokens").over(w_in))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("__pid")
        .agg(F.sum("n_tokens").alias("__ptot"))
        .withColumn("__off", F.coalesce(F.sum("__ptot").over(w_off), F.lit(0)))
        .select("__pid", "__off")
    )
    return (
        running.join(F.broadcast(offsets), "__pid")
        .withColumn(
            "cum_tokens", (F.col("__run") + F.col("__off")).cast("bigint")
        )
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(id_col, F.col("n_tokens").cast("bigint").alias("n_tokens"), "cum_tokens")
    )


def split_assign(
    df: DataFrame,
    *,
    id_col: str,
    splits: Mapping[str, float],
    seed: str = "sp",
) -> DataFrame:
    """Deterministic dataset-split assignment (train/val/test): each row
    draws u = hash_uniform(id) and lands in the split whose cumulative
    fraction band contains u, in the mapping's insertion order (the last
    split absorbs the rounding tail). Pure narrow projection — no
    shuffle, no RNG — so the assignment is stable under any
    partitioning, retries, and re-runs, and any table keyed by the same
    id derives the SAME split (features/labels never straddle a leak
    boundary). Fractions must sum to 1 (±1e-9).

    Appends a ``split`` string column.
    """
    fracs = list(splits.items())
    if not fracs:
        raise ValueError("splits must not be empty")
    total = sum(f for _, f in fracs)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    u = hash_uniform(F.col(id_col), seed)
    expr = F.lit(fracs[-1][0])  # tail band
    cum = 0.0
    conds = []
    for name, frac in fracs[:-1]:
        cum += frac
        conds.append((name, cum))
    for name, bound in reversed(conds):
        expr = F.when(u < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def temperature_mixture(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    *,
    alpha: float = 0.5,
    seed: str = "tm",
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """Temperature-based domain rebalancing (the multilingual/domain
    mixing rule of T5 / mBERT-style pipelines): sample domains with
    probability proportional to p_d^alpha instead of their natural
    share p_d, flattening head domains and boosting the tail while
    keeping the expected corpus size unchanged. Expected copies per row
    of domain d: w_d = (p_d^alpha / sum_e p_e^alpha) / p_d; copies =
    floor(w_d) + (hash_uniform < frac(w_d)), as in weighted_mixture —
    but the weights are DERIVED IN-FRAME from the domain counts, so
    nothing about the domain space ever reaches the driver (at 100 TB
    the domain column can be a registrable-domain extraction with
    millions of values).

    Cross-engine determinism: the cross-domain normalizer sum_e p_e^alpha
    is an order-dependent float reduction, so each p_d^alpha is first
    quantized to fixed point (floor(x*scale + 0.5), the engine-wide
    idiom) and the normalizer is an exact integer sum; w_d is then one
    identical IEEE expression over exact integers. alpha=0.5 evaluates
    via sqrt (correctly rounded everywhere); other alphas go through
    pow, whose last ulp may differ across libm implementations — the
    quantization usually absorbs that, but only 0.5 is contract-exact.

    Shape: one groupBy(domain) count (map-side combined), two
    unpartitioned window sums over the tiny per-domain frame, a
    broadcast join back, then the narrow copy explode."""
    from pyspark.sql import Window

    dcol = F.col(domain_col)
    counts = df.groupBy(dcol.alias("__d")).agg(F.count(F.lit(1)).alias("__n"))
    everything = Window.partitionBy()
    # NB: column names must differ case-INsensitively (__n vs __N is an
    # AMBIGUOUS_REFERENCE under Spark's default caseSensitive=false)
    with_total = counts.select(
        "__d", "__n", F.sum("__n").over(everything).alias("__tot")
    )
    p = F.col("__n").cast("double") / F.col("__tot").cast("double")
    powed = F.sqrt(p) if alpha == 0.5 else F.pow(p, F.lit(alpha))
    with_s = with_total.select(
        "__d",
        "__n",
        "__tot",
        F.floor(powed * F.lit(float(scale)) + F.lit(0.5))
        .cast("bigint")
        .alias("__s"),
    )
    with_norm = with_s.select(
        "__d",
        "__n",
        "__tot",
        "__s",
        F.sum("__s").over(everything).alias("__snorm"),
    )
    w = (F.col("__s").cast("double") / F.col("__snorm").cast("double")) * (
        F.col("__tot").cast("double") / F.col("__n").cast("double")
    )
    wtab = with_norm.select("__d", w.alias("__w"))
    joined = df.join(
        F.broadcast(wtab), df[domain_col] == F.col("__d"), "inner"
    ).drop("__d")
    u = hash_uniform(F.col(key_col), seed)
    n_copies = F.floor(F.col("__w")).cast("long") + F.when(
        u < F.col("__w") - F.floor(F.col("__w")), 1
    ).otherwise(0).cast("long")
    return (
        joined.withColumn("__ncopy", n_copies)
        .filter(F.col("__ncopy") > 0)
        .withColumn(
            "copy_num",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"), F.col("__ncopy") - F.lit(1).cast("long")
                )
            ),
        )
        .withColumn("mix_weight", F.round(F.col("__w"), 6) + F.lit(0.0))
        .drop("__ncopy", "__w")
    )
