"""Distributed model training, integer-exact across engines.

The reference pipeline stops at harmonization; a training-data engine
also needs to TRAIN the small models the pipeline itself uses (quality
filters, length regressors) on-cluster. Both trainers here follow the
canonical full-batch shape — the corpus is touched by ONE map-side-
combined aggregate per pass, a tiny parameter state updates on the
driver, and parameters ride back into the next pass as codegen'd
literals. No parameter shuffle, no per-row Python.

Cross-engine exactness discipline (what makes these ORACLE-verifiable
where float training loops are not):

- ``lsq_gd_train`` — full-batch gradient descent on least squares in
  FIXED-POINT arithmetic: weights live in micro-units (1e-6), margins /
  errors / gradients are BIGINT products and sums (order-independent),
  and the learning-rate step is a truncated integer division (Spark
  ``div`` == DuckDB ``//``, both toward zero). Least squares is
  strictly convex, so unlike a full-batch perceptron (which oscillates
  — measured, see tests) the trajectory CONVERGES, and every
  iteration's weight vector hash-matches a DuckDB unrolled-CTE replay
  bit-for-bit. Same skeleton as MLlib's treeAggregate gradient loop,
  re-expressed declaratively.

- ``stump_train`` — exact greedy split finding for a one-level decision
  tree (the "exact" mode of gradient-boosting frameworks, cf. the
  XGBoost paper's exact greedy algorithm, arXiv:1603.02754 §3.1):
  melt features, count (pos, neg) per (feature, value) with map-side
  combine, cumulative counts over each feature's sorted distinct
  values, and the argmax split by a deterministic total order
  (correct DESC, feature ASC, threshold ASC). Pure counting — exact at
  any scale, one shot, no convergence question at all.

Scale posture at 100 TB: GD iteration = one corpus scan emitting k+1
BIGINT partial sums per partition (gradient sums hold to ~1.5e8 docs at
these feature magnitudes; past that, promote the sums to decimal(38,0)
or two-level aggregation — documented, not silently wrong). Stump
candidate space is distinct (feature, value) pairs — bounded by value
cardinality, not corpus size; the per-feature cumsum window sees only
those aggregated rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

FP = 1_000_000  # fixed-point scale: weights in micro-units
STUMP_SCALE = 1_000_000_000  # purity-score fixed-point (see stump_train)


def _tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero — mirrors Spark's ``div``
    and DuckDB's ``//`` (Python's ``//`` floors, which differs on
    negatives)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def lsq_gd_train(
    df: DataFrame,
    feature_cols: list[str],
    target_col: str,
    *,
    iterations: int = 8,
    lr_den: int = 4000,
) -> tuple[DataFrame, list[int]]:
    """Full-batch fixed-point gradient descent on least squares.

    ``df`` exposes BIGINT features ``feature_cols`` (include a constant
    1 bias column) and BIGINT target ``target_col``. Weights w are
    integers in micro-units; per iteration, with e_i = (w . x_i) -
    FP*y_i (micro-units):

        grad_j = sum_i e_i * x_ij
        w_j   -= trunc_div(grad_j, n * lr_den)

    The 1/n normalization makes the effective step depend on the MEAN
    gradient, so the same ``lr_den`` is stable at any corpus size; GD on
    a strictly convex quadratic converges for lr below 2/L (L = top
    eigenvalue of the mean outer-product matrix — pick lr_den above
    that; divergence is loud, not subtle). Returns ``(history,
    weights)``: one history row per iteration (iter, w_<name>... in
    micro-units), and the final integer weight vector.

    ONE aggregate per iteration; the feature projection is checkpointed so
    iterations 2..T never re-read parquet or re-tokenize. Driver state
    is k integers.
    """
    k = len(feature_cols)
    feats = (
        df.select(
            F.col(target_col).cast("bigint").alias("__y"),
            *[
                F.col(name).cast("bigint").alias(f"__x{j}")
                for j, name in enumerate(feature_cols)
            ],
        )
    ).localCheckpoint(eager=True)
    w = [0] * k
    history: list[tuple] = []
    for t in range(1, iterations + 1):
        margin = sum(
            (F.lit(w[j]) * F.col(f"__x{j}") for j in range(1, k)),
            F.lit(w[0]) * F.col("__x0"),
        )
        err = margin - F.lit(FP) * F.col("__y")
        row = feats.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.coalesce(F.sum(err * F.col(f"__x{j}")), F.lit(0)).alias(f"d{j}")
                for j in range(k)
            ],
        ).first()
        n = int(row["n"])
        w = [w[j] - _tdiv(int(row[f"d{j}"]), n * lr_den) for j in range(k)]
        history.append((t, *w))

    spark: SparkSession = df.sparkSession
    schema = "iter BIGINT, " + ", ".join(f"w_{c} BIGINT" for c in feature_cols)
    return spark.createDataFrame(history, schema=schema), w


def lsq_r2(
    df: DataFrame,
    feature_cols: list[str],
    target_col: str,
    weights: list[int],
    *,
    round_dp: int = 6,
) -> DataFrame:
    """One-pass R² evaluation of a fixed-point linear model: exact
    integer/decimal sums (SSE in squared micro-units via decimal —
    e², up to ~3.6e17 per row, overflows BIGINT when summed; sum of y
    and y² likewise decimal-exact), then one identical IEEE expression
    in both engines. Emits (n, r2)."""
    k = len(feature_cols)
    margin = sum(
        (
            F.lit(weights[j]) * F.col(feature_cols[j]).cast("bigint")
            for j in range(1, k)
        ),
        F.lit(weights[0]) * F.col(feature_cols[0]).cast("bigint"),
    )
    err = (margin - F.lit(FP) * F.col(target_col).cast("bigint")).cast(
        "decimal(38,0)"
    )
    y = F.col(target_col).cast("decimal(38,0)")
    agg = df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(err * err).cast("double").alias("sse_fp2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(y * y).cast("double").alias("sy2"),
    )
    sst = F.col("sy2") - F.col("sy") * F.col("sy") / F.col("n")
    r2 = F.lit(1.0) - (F.col("sse_fp2") / F.lit(float(FP) * FP)) / sst
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        (F.round(r2, round_dp) + F.lit(0.0)).alias("r2"),
    )


def stump_train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
) -> DataFrame:
    """Exact greedy decision-stump training over a ±1 label.

    Every (feature, distinct value) pair is a candidate split
    ``x <= v``; the winner maximizes the Gini-style PURITY score

        (pos_l² + neg_l²) * S div n_l  +  (pos_r² + neg_r²) * S div n_r

    (the maximization form of weighted-Gini minimization; an empty
    right side contributes 0). Purity, not raw accuracy, because
    accuracy has PLATEAUS — on a conjunctive label every threshold
    inside the majority region ties on accuracy and the (feature, val)
    tiebreak then picks a degenerate boundary split, which poisons the
    greedy recursion (measured in tests: the depth-2 tree under the
    accuracy criterion missed the conjunction the purity criterion
    nails). The S=1e9 scaling with TRUNCATED integer division keeps
    the whole argmax in exact BIGINTs (Spark div == DuckDB //), so the
    chosen split is deterministic cross-engine; (pos² * S) holds
    BIGINT to ~3e6 rows per side — past that promote the score to
    decimal(38,0), as with the GD gradient sums. Deterministic
    tiebreak (score DESC, feature ASC, threshold ASC).

    Emits one row: (feature, threshold, left_label, right_label,
    n_correct, n, accuracy), where each side predicts its majority
    class (ties -> +1) and n_correct/accuracy report the training
    accuracy OF the purity-chosen split.

    Distribution shape: melt to (feature, value, y) — a generate, not a
    shuffle — then ONE groupBy(feature, value) with map-side combine
    (output rows bounded by value cardinality, not corpus size), a
    per-feature cumulative window over those aggregated rows, and a
    single-row struct-min argmax. The global (pos, neg) totals come
    from the same aggregate via windowed sums, never a driver
    collect."""
    y = F.col(label_col).cast("bigint")
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("feature"),
                        F.col(name).cast("bigint").alias("val"),
                    )
                    for name in feature_cols
                ]
            )
        ).alias("fv"),
        y.alias("__y"),
    ).select("fv.feature", "fv.val", "__y")
    counts = melted.groupBy("feature", "val").agg(
        F.coalesce(F.sum(F.when(F.col("__y") == 1, F.lit(1))), F.lit(0)).alias(
            "pos"
        ),
        F.coalesce(F.sum(F.when(F.col("__y") == -1, F.lit(1))), F.lit(0)).alias(
            "neg"
        ),
    )
    cum = Window.partitionBy("feature").orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("feature")
    scored = counts.select(
        "feature",
        "val",
        F.sum("pos").over(cum).alias("pl"),
        F.sum("neg").over(cum).alias("nl"),
        F.sum("pos").over(tot).alias("tp"),
        F.sum("neg").over(tot).alias("tn"),
    ).withColumn(
        "correct",
        F.greatest(F.col("pl"), F.col("nl"))
        + F.greatest(F.col("tp") - F.col("pl"), F.col("tn") - F.col("nl")),
    )
    pr = F.col("tp") - F.col("pl")
    nr = F.col("tn") - F.col("nl")
    n_l = F.col("pl") + F.col("nl")
    n_r = pr + nr
    scored = (
        scored.withColumn(
            "__lsq", F.col("pl") * F.col("pl") + F.col("nl") * F.col("nl")
        )
        .withColumn("__rsq", pr * pr + nr * nr)
        .withColumn(
            "score",
            F.expr(f"(__lsq * {STUMP_SCALE}L) div (pl + nl)")
            + F.when(n_r == 0, F.lit(0).cast("long")).otherwise(
                F.expr(f"(__rsq * {STUMP_SCALE}L) div ((tp - pl) + (tn - nl))")
            ),
        )
    )
    # single-row argmax: struct comparison is lexicographic, and
    # (feature, val) is unique per row, so the ordering prefix
    # (-score, feature, val) is a total order — the trailing payload
    # fields can never influence which row wins.
    best = scored.agg(
        F.min(
            F.struct(
                (-F.col("score")).alias("negs"),
                "feature",
                "val",
                "correct",
                "pl",
                "nl",
                "tp",
                "tn",
            )
        ).alias("b")
    ).select("b.*")
    maj = lambda p, n: F.when(p >= n, F.lit(1)).otherwise(F.lit(-1))  # noqa: E731
    n_all = F.col("tp") + F.col("tn")
    return best.select(
        F.col("feature"),
        F.col("val").alias("threshold"),
        maj(F.col("pl"), F.col("nl")).cast("bigint").alias("left_label"),
        maj(F.col("tp") - F.col("pl"), F.col("tn") - F.col("nl"))
        .cast("bigint")
        .alias("right_label"),
        F.col("correct").cast("bigint").alias("n_correct"),
        n_all.cast("bigint").alias("n"),
        (
            F.round(F.col("correct").cast("double") / n_all.cast("double"), 4)
            + F.lit(0.0)
        ).alias("accuracy"),
    )


def tree2_train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
) -> DataFrame:
    """Depth-2 decision tree by greedy recursion over the exact stump:
    train the root split on all rows, then one independent exact stump
    per side — three stump_train passes, each fully distributed, with
    only the root's (feature, threshold) pair crossing the driver.
    Emits one row per node (node in root/left/right) with each node's
    split and ITS OWN training accuracy over the rows it sees; the
    depth-2 tree's accuracy is (left.n_correct + right.n_correct) /
    root.n. A side the root leaves empty yields no row (the tree
    degenerates to the stump — deterministic, mirrored by the oracle).

    Same exactness contract as stump_train: pure counting, no floats
    until the final rounded accuracy."""
    root = stump_train(df, feature_cols, label_col).first()
    f, t = root["feature"], root["threshold"]
    sides = [
        ("left", df.filter(F.col(f) <= F.lit(t))),
        ("right", df.filter(F.col(f) > F.lit(t))),
    ]
    spark = df.sparkSession
    out = spark.createDataFrame(
        [("root", *tuple(root))],
        "node STRING, feature STRING, threshold BIGINT, left_label BIGINT, "
        "right_label BIGINT, n_correct BIGINT, n BIGINT, accuracy DOUBLE",
    )
    for name, side in sides:
        part = stump_train(side, feature_cols, label_col).withColumn(
            "node", F.lit(name)
        )
        out = out.unionByName(part.select(*out.columns))
    # empty sides produce an all-null struct from the agg; drop them
    return out.filter(F.col("feature").isNotNull())


def logreg_gd_train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    *,
    iterations: int = 3,
    lr_den: int = 50,
) -> DataFrame:
    """Full-batch logistic-regression gradient ASCENT with integer-
    scaled state: weights live in micro-units (BIGINT), the gradient
    sum is exact integer arithmetic, and the ONLY floating-point step
    is the sigmoid — pinned to 6 decimals (sigma_mu = ROUND(1e6 /
    (1 + exp(-z)))) immediately, so the residual y*1e6 - sigma_mu is an
    exact integer before anything accumulates. Cross-engine parity then
    needs no discipline beyond that single round: exp() on the SAME
    double z differs by at most an ulp between JVM and libm, which
    survives 6dp rounding except on measure-zero boundaries (the
    weighted-reservoir ln() argument).

    Per iteration, with z_i = (w . x_i) / 1e6:

        sigma_mu_i = round(1e6 / (1 + exp(-z_i)))       # the ONE float
        r_i        = y_i * 1e6 - sigma_mu_i             # exact int
        grad_j     = sum_i r_i * x_ij                   # exact int
        w_j       += trunc_div(grad_j, n * lr_den)      # exact int

    1/n makes the step mean-gradient-scaled (corpus-size stable, as in
    lsq_gd_train). ONE aggregate per iteration over the checkpointed feature
    projection — the same agg also counts current-weight correct
    predictions (sigma_mu >= 5e5 vs y), so each history row carries
    (iter, updated weights..., n_correct BEFORE the update). Driver
    state is k integers per iteration."""
    k = len(feature_cols)
    feats = (
        df.select(
            F.col(label_col).cast("bigint").alias("__y"),
            *[
                F.col(name).cast("bigint").alias(f"__x{j}")
                for j, name in enumerate(feature_cols)
            ],
        )
    ).localCheckpoint(eager=True)
    w = [0] * k
    history: list[tuple] = []
    for t in range(1, iterations + 1):
        z_num = sum(
            (F.lit(w[j]) * F.col(f"__x{j}") for j in range(1, k)),
            F.lit(w[0]) * F.col("__x0"),
        )
        z = z_num.cast("double") / F.lit(float(FP))
        sig_mu = F.round(F.lit(float(FP)) / (F.lit(1.0) + F.exp(-z)), 0).cast(
            "bigint"
        )
        r = F.col("__y") * F.lit(FP) - sig_mu
        row = feats.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    (sig_mu >= FP // 2) == (F.col("__y") == 1), 1
                ).otherwise(0)
            ).alias("ok"),
            *[
                F.coalesce(F.sum(r * F.col(f"__x{j}")), F.lit(0)).alias(f"d{j}")
                for j in range(k)
            ],
        ).first()
        n = int(row["n"])
        w = [w[j] + _tdiv(int(row[f"d{j}"]), n * lr_den) for j in range(k)]
        history.append((t, *w, int(row["ok"])))

    spark: SparkSession = df.sparkSession
    schema = (
        "iter BIGINT, "
        + ", ".join(f"w_{c} BIGINT" for c in feature_cols)
        + ", n_correct BIGINT"
    )
    return spark.createDataFrame(history, schema=schema)
