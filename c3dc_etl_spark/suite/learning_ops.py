"""On-cluster model-training suite queries (operators.learning).

Two convergent trainers over the documents table, both integer-exact so
a DuckDB oracle can replay the full training computation and hash-match
it bit-for-bit (the k-means / PageRank discipline applied to model
training):

- fixed-point least-squares GD: learn to predict a document's length
  from its token counts — the training TRAJECTORY (every iteration's
  weight vector) is the verified output, plus a one-pass R² evaluation
  (converges to R² ~ 0.99: the synthetic corpus has near-constant word
  length, which the regressor discovers).
- exact greedy decision stump: distill a two-condition quality gate
  (n_chars >= 300 AND n_tokens >= 55) into the single best threshold
  split, XGBoost-exact-mode style — pure counting, deterministic
  argmax.

A full-batch PERCEPTRON was evaluated for this slot and rejected: its
batch update oscillates on thin-margin labels (measured: the
misclassified count ping-pongs 247<->253 forever on a median-split
label) — least squares is strictly convex, so GD actually converges.
That finding is pinned in tests/test_learning.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c3dc_etl_spark.operators import learning as L
from c3dc_etl_spark.suite.registry import load, query

ITERS = 8
LR_DEN = 4000

# --- shared integer feature expressions (Spark <-> DuckDB mirrors) ---
_NT_SQL = "CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')) AS BIGINT)"
_NU_SQL = (
    "CAST(LEN(LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+')))"
    " AS BIGINT)"
)
_NC_SQL = "CAST(n_chars AS BIGINT)"

GD_FEATURES = ["bias", "n_tokens", "n_unique"]
_GD_FEAT_SQL = ["CAST(1 AS BIGINT)", _NT_SQL, _NU_SQL]
_GD_K = len(GD_FEATURES)

STUMP_FEATURES = ["n_chars", "n_tokens", "n_unique"]
_STUMP_FEAT_SQL = dict(zip(STUMP_FEATURES, [_NC_SQL, _NT_SQL, _NU_SQL]))
_STUMP_LABEL_SQL = (
    f"CASE WHEN {_NC_SQL} >= 300 AND {_NT_SQL} >= 55"
    " THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END"
)


def _nt() -> F.Column:
    return F.size(F.split(F.trim("text"), r"\s+")).cast("bigint")


def _nu() -> F.Column:
    return F.size(
        F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+"))
    ).cast("bigint")


def _gd_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        F.col("n_chars").cast("bigint").alias("y"),
        F.lit(1).cast("bigint").alias("bias"),
        _nt().alias("n_tokens"),
        _nu().alias("n_unique"),
    )


def _gd_ctes() -> str:
    """feat, nn, w0, then per iteration t: g{t} (integer gradient sums
    against w{t-1}) and w{t} = w{t-1} - g{t} // (n * LR_DEN). DuckDB's
    ``//`` truncates toward zero exactly like the trainer's _tdiv /
    Spark's ``div`` (registry idiom note)."""
    feat_cols = ",\n           ".join(
        f"{sql} AS x{j}" for j, sql in enumerate(_GD_FEAT_SQL)
    )
    parts = [
        f"feat AS MATERIALIZED (\n"
        f"    SELECT {_NC_SQL} AS y,\n           {feat_cols}\n"
        f"    FROM documents\n)",
        "nn AS (SELECT COUNT(*) AS n FROM feat)",
        "w0 AS (SELECT "
        + ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(_GD_K))
        + ")",
    ]
    margin = " + ".join(f"w.w{j} * x{j}" for j in range(_GD_K))
    for t in range(1, ITERS + 1):
        grads = ",\n           ".join(
            f"COALESCE(SUM((({margin}) - {L.FP} * y) * x{j}), 0) AS d{j}"
            for j in range(_GD_K)
        )
        parts.append(f"g{t} AS (\n    SELECT {grads}\n    FROM feat, w{t - 1} w\n)")
        ws = ", ".join(
            f"CAST(w.w{j} - (g.d{j} // (nn.n * {LR_DEN})) AS BIGINT) AS w{j}"
            for j in range(_GD_K)
        )
        parts.append(f"w{t} AS (SELECT {ws} FROM w{t - 1} w, g{t} g, nn)")
    return ",\n".join(parts)


def _gd_history_select() -> str:
    rows = []
    for t in range(1, ITERS + 1):
        cols = ", ".join(
            f"w{t}.w{j} AS w_{n}" for j, n in enumerate(GD_FEATURES)
        )
        rows.append(f"SELECT CAST({t} AS BIGINT) AS iter, {cols} FROM w{t}")
    return "\nUNION ALL\n".join(rows)


_GD_TRAIN_ORACLE = f"""
WITH {_gd_ctes()}
{_gd_history_select()}
"""


@query("regressor_train_gd", oracle=_GD_TRAIN_ORACLE, tags=("learning",))
def regressor_train_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a document-length regressor ON-CLUSTER: full-batch
    fixed-point gradient descent predicting n_chars from (bias,
    n_tokens, n_unique). Per iteration ONE map-side-combined aggregate
    computes the global integer gradient; the micro-unit weight vector
    (3 BIGINTs) updates on the driver and folds into the next pass as
    literals — the treeAggregate training-loop shape at 100 TB. The
    verified output is the full trajectory: 8 iterations of weights,
    hash-matched against DuckDB's unrolled-CTE replay."""
    hist, _ = L.lsq_gd_train(
        _gd_features(spark, sf_dir), GD_FEATURES, "y",
        iterations=ITERS, lr_den=LR_DEN,
    )
    return hist


_GD_EVAL_ORACLE = f"""
WITH {_gd_ctes()},
m AS (
    SELECT y,
           ({" + ".join(f"w.w{j} * x{j}" for j in range(_GD_K))})
               - {L.FP} * y AS e
    FROM feat, w{ITERS} w
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(1.0 - (CAST(SUM(CAST(e AS HUGEINT) * e) AS DOUBLE)
                    / {float(L.FP) * L.FP})
                   / (CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE)
                      - CAST(SUM(y) AS DOUBLE) * CAST(SUM(y) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE)),
             6) + 0.0 AS r2
FROM m
"""


@query("regressor_eval_r2", oracle=_GD_EVAL_ORACLE, tags=("learning",))
def regressor_eval_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation pass for the trained regressor: re-run training (the
    checkpointed feature frame makes iterations share one scan), then ONE
    aggregate computing R² from exact integer/decimal sums (SSE in
    squared micro-units; both engines derive the final double from the
    same exact integers). Converges to R² ~ 0.99 — asserted as a
    floor in unit tests, pinned exactly here by the value hash."""
    feats = _gd_features(spark, sf_dir)
    _, w = L.lsq_gd_train(
        feats, GD_FEATURES, "y", iterations=ITERS, lr_den=LR_DEN
    )
    return L.lsq_r2(feats, GD_FEATURES, "y", w)


_STUMP_ORACLE = f"""
WITH feat AS MATERIALIZED (
    SELECT {_STUMP_LABEL_SQL} AS y,
           {", ".join(f"{sql} AS {name}" for name, sql in _STUMP_FEAT_SQL.items())}
    FROM documents
),
melted AS (
    {" UNION ALL ".join(f"SELECT '{name}' AS feature, {name} AS val, y FROM feat" for name in STUMP_FEATURES)}
),
counts AS (
    SELECT feature, val,
           COALESCE(SUM(CASE WHEN y = 1 THEN 1 END), 0) AS pos,
           COALESCE(SUM(CASE WHEN y = -1 THEN 1 END), 0) AS neg
    FROM melted GROUP BY 1, 2
),
scored AS (
    SELECT feature, val,
           SUM(pos) OVER (PARTITION BY feature ORDER BY val
                          ROWS UNBOUNDED PRECEDING) AS pl,
           SUM(neg) OVER (PARTITION BY feature ORDER BY val
                          ROWS UNBOUNDED PRECEDING) AS nl,
           SUM(pos) OVER (PARTITION BY feature) AS tp,
           SUM(neg) OVER (PARTITION BY feature) AS tn
    FROM counts
),
best AS (
    SELECT *, GREATEST(pl, nl) + GREATEST(tp - pl, tn - nl) AS correct,
           ((pl * pl + nl * nl) * 1000000000) // (pl + nl)
           + CASE WHEN (tp - pl) + (tn - nl) = 0 THEN 0
                  ELSE ((tp - pl) * (tp - pl) + (tn - nl) * (tn - nl))
                       * 1000000000 // ((tp - pl) + (tn - nl)) END AS score
    FROM scored
    ORDER BY score DESC, feature ASC, val ASC
    LIMIT 1
)
SELECT feature,
       CAST(val AS BIGINT) AS threshold,
       CAST(CASE WHEN pl >= nl THEN 1 ELSE -1 END AS BIGINT) AS left_label,
       CAST(CASE WHEN tp - pl >= tn - nl THEN 1 ELSE -1 END AS BIGINT)
           AS right_label,
       CAST(correct AS BIGINT) AS n_correct,
       CAST(tp + tn AS BIGINT) AS n,
       ROUND(CAST(correct AS DOUBLE) / CAST(tp + tn AS DOUBLE), 4) + 0.0
           AS accuracy
FROM best
"""


@query("classifier_train_stump", oracle=_STUMP_ORACLE, tags=("learning",))
def classifier_train_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill a rule-based quality gate (n_chars >= 300 AND
    n_tokens >= 55) into the single best decision stump by EXACT greedy
    split search (every distinct feature value is a candidate
    threshold; deterministic argmax) — the XGBoost exact-mode split
    finder as one groupBy + per-feature cumulative window over
    aggregated candidate rows. Finds n_chars <= 302 at 99.8% training
    accuracy on the sf0.01 corpus: counting, not convergence."""
    docs = load(spark, sf_dir, "documents")
    feats = docs.select(
        F.when(
            (F.col("n_chars") >= 300) & (_nt() >= 55), F.lit(1)
        )
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("y"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        _nt().alias("n_tokens"),
        _nu().alias("n_unique"),
    )
    return L.stump_train(feats, STUMP_FEATURES, "y")


def _stump_chain(prefix: str, from_sql: str) -> str:
    """The stump oracle as a reusable CTE chain over ``{from_sql}``
    (which must expose y plus the STUMP_FEATURES columns): emits
    ``{prefix}best`` holding the single winning split."""
    melted = " UNION ALL ".join(
        f"SELECT '{name}' AS feature, {name} AS val, y FROM {prefix}src"
        for name in STUMP_FEATURES
    )
    return f"""
{prefix}src AS ({from_sql}),
{prefix}melted AS ({melted}),
{prefix}counts AS (
    SELECT feature, val,
           COALESCE(SUM(CASE WHEN y = 1 THEN 1 END), 0) AS pos,
           COALESCE(SUM(CASE WHEN y = -1 THEN 1 END), 0) AS neg
    FROM {prefix}melted GROUP BY 1, 2
),
{prefix}scored AS (
    SELECT feature, val,
           SUM(pos) OVER (PARTITION BY feature ORDER BY val
                          ROWS UNBOUNDED PRECEDING) AS pl,
           SUM(neg) OVER (PARTITION BY feature ORDER BY val
                          ROWS UNBOUNDED PRECEDING) AS nl,
           SUM(pos) OVER (PARTITION BY feature) AS tp,
           SUM(neg) OVER (PARTITION BY feature) AS tn
    FROM {prefix}counts
),
{prefix}best AS (
    SELECT *, GREATEST(pl, nl) + GREATEST(tp - pl, tn - nl) AS correct,
           ((pl * pl + nl * nl) * 1000000000) // (pl + nl)
           + CASE WHEN (tp - pl) + (tn - nl) = 0 THEN 0
                  ELSE ((tp - pl) * (tp - pl) + (tn - nl) * (tn - nl))
                       * 1000000000 // ((tp - pl) + (tn - nl)) END AS score
    FROM {prefix}scored
    ORDER BY score DESC, feature ASC, val ASC
    LIMIT 1
)"""


def _node_select(node: str, prefix: str) -> str:
    return f"""
SELECT '{node}' AS node, feature,
       CAST(val AS BIGINT) AS threshold,
       CAST(CASE WHEN pl >= nl THEN 1 ELSE -1 END AS BIGINT) AS left_label,
       CAST(CASE WHEN tp - pl >= tn - nl THEN 1 ELSE -1 END AS BIGINT)
           AS right_label,
       CAST(correct AS BIGINT) AS n_correct,
       CAST(tp + tn AS BIGINT) AS n,
       ROUND(CAST(correct AS DOUBLE) / CAST(tp + tn AS DOUBLE), 4) + 0.0
           AS accuracy
FROM {prefix}best"""


_FEAT_SELECT = (
    f"SELECT {_STUMP_LABEL_SQL} AS y, "
    + ", ".join(f"{sql} AS {name}" for name, sql in _STUMP_FEAT_SQL.items())
    + " FROM documents"
)

_ROOT_VAL = (
    "CASE rb.feature "
    + " ".join(f"WHEN '{n}' THEN f.{n}" for n in STUMP_FEATURES)
    + " END"
)

_TREE2_ORACLE = f"""
WITH {_stump_chain("r_", _FEAT_SELECT)},
{_stump_chain(
    "l_",
    f"SELECT f.* FROM r_src f CROSS JOIN r_best rb WHERE {_ROOT_VAL} <= rb.val",
)},
{_stump_chain(
    "g_",
    f"SELECT f.* FROM r_src f CROSS JOIN r_best rb WHERE {_ROOT_VAL} > rb.val",
)}
{_node_select("root", "r_")}
UNION ALL
{_node_select("left", "l_")}
UNION ALL
{_node_select("right", "g_")}
"""


@query("classifier_train_tree2", oracle=_TREE2_ORACLE, tags=("learning",))
def classifier_train_tree2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 decision tree by greedy recursion over the exact stump:
    root split on the full corpus, then one independent exact stump per
    side — three fully distributed counting passes with only the root's
    (feature, threshold) crossing the driver. Each node row carries its
    own split and accuracy; the oracle replays the recursion as three
    chained stump CTE blocks, the side filters referencing the root's
    winning split through a CROSS JOIN (the same greedy choice, made by
    SQL). Proves the exact split finder COMPOSES — the building block
    of depth-d trees and boosting."""
    docs = load(spark, sf_dir, "documents")
    feats = docs.select(
        F.when(
            (F.col("n_chars") >= 300) & (_nt() >= 55), F.lit(1)
        )
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("y"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        _nt().alias("n_tokens"),
        _nu().alias("n_unique"),
    )
    return L.tree2_train(feats, STUMP_FEATURES, "y")


# --------------------------------------------------------------------------
# Logistic regression by integer-scaled gradient ascent (sixth iterative pin)
# --------------------------------------------------------------------------

LOGREG_ITERS = 3
LOGREG_LR_DEN = 2000
_LOGREG_FEATURES = ["bias", "price_k", "key_mod"]


def _logreg_ctes(iters: int = LOGREG_ITERS, lr_den: int = LOGREG_LR_DEN) -> str:
    head = """
WITH f AS (
    SELECT CASE WHEN o_totalprice >= 150000.0 THEN 1 ELSE 0 END AS y,
           CAST(1 AS BIGINT) AS x0,
           CAST(FLOOR(o_totalprice / 1000.0) AS BIGINT) - 150 AS x1,
           o_orderkey % 10 AS x2
    FROM orders
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM f),
w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
              CAST(0 AS BIGINT) AS w2)"""
    its = []
    for t in range(1, iters + 1):
        its.append(f""",
s{t} AS (
    SELECT f.y, f.x0, f.x1, f.x2,
           CAST(ROUND(1000000.0 / (1.0 + EXP(
               -CAST(w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2 AS DOUBLE)
               / 1000000.0))) AS BIGINT) AS sig_mu
    FROM f CROSS JOIN w{t - 1} w
),
g{t} AS (
    SELECT CAST(SUM((y * 1000000 - sig_mu) * x0) AS BIGINT) AS d0,
           CAST(SUM((y * 1000000 - sig_mu) * x1) AS BIGINT) AS d1,
           CAST(SUM((y * 1000000 - sig_mu) * x2) AS BIGINT) AS d2,
           CAST(SUM(CASE WHEN (sig_mu >= 500000) = (y = 1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS ok
    FROM s{t}
),
w{t} AS (
    SELECT w.w0 + g.d0 // (nn.n * {lr_den}) AS w0,
           w.w1 + g.d1 // (nn.n * {lr_den}) AS w1,
           w.w2 + g.d2 // (nn.n * {lr_den}) AS w2
    FROM w{t - 1} w CROSS JOIN g{t} g CROSS JOIN nn
)""")
    rows = "\nUNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS iter, w.w0 AS w_bias,"
        f" w.w1 AS w_price_k, w.w2 AS w_key_mod, g.ok AS n_correct"
        f" FROM w{t} w CROSS JOIN g{t} g"
        for t in range(1, iters + 1)
    )
    return head + "".join(its) + "\n" + rows


@query("logreg_train_gd", oracle=_logreg_ctes(), tags=("learning",))
def logreg_train_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained by full-batch gradient ascent with
    integer-scaled state — the classification sibling of
    regressor_train_gd and the SIXTH iterative-algorithm pin: weights
    and gradients are exact BIGINTs, the sigmoid is the single
    floating-point step and is 6dp-pinned before the residual forms, so
    the oracle replays the identical iterations as a CTE chain with the
    same one-round discipline. Features (bias, price-in-$1000s
    CENTERED at the decision threshold, orderkey mod 10) and the
    separable label (price >= 150k) give a genuinely convergent ascent
    (accuracy climbs across the three steps); each history row carries
    the updated weights plus the pre-update correct-prediction count.
    ONE aggregate per iteration over the checkpointed projection
    (operators/learning.py:logreg_gd_train)."""
    from c3dc_etl_spark.operators.learning import logreg_gd_train

    orders = load(spark, sf_dir, "orders")
    feats = orders.select(
        F.when(F.col("o_totalprice") >= 150000.0, 1)
        .otherwise(0)
        .alias("label"),
        F.lit(1).cast("bigint").alias("bias"),
        (F.floor(F.col("o_totalprice") / 1000.0).cast("bigint") - 150).alias("price_k"),
        (F.col("o_orderkey") % 10).alias("key_mod"),
    )
    return logreg_gd_train(
        feats,
        _LOGREG_FEATURES,
        "label",
        iterations=LOGREG_ITERS,
        lr_den=LOGREG_LR_DEN,
    )
