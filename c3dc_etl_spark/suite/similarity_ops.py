"""Similarity-search suite queries over the embeddings table, backed by
c3dc_etl_spark.operators.similarity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from c3dc_etl_spark.operators import similarity as S
from c3dc_etl_spark.suite.registry import load, query

N_QUERIES = 8
TOP_K = 10
SRP_PLANES = 8
EMB_DIM = 64


def _fold_dot(a: str, b: str) -> str:
    """Sequential-fold dot product over the embedding dims — mirrors
    Spark's zip_with+aggregate evaluation order EXACTLY. DuckDB's
    LIST_DOT_PRODUCT sums in an unspecified order; the last-ulp
    difference can flip a 4dp-rounded similarity right at a rounding
    boundary (observed at sf0.1), so every oracle dot goes through this
    fold."""
    return (
        f"LIST_REDUCE(LIST_PREPEND(0.0, LIST_TRANSFORM(RANGE(1, {EMB_DIM + 1}),"
        f" i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
    )


# per-row norms in the CTEs (not per pair) — mirrors the Spark plans;
# the division consumes the same doubles, so values are identical
_COS = f"{_fold_dot('qv', 'cv')} / (qn * cn)"

_TOPK_ORACLE = f"""
WITH q AS MATERIALIZED (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
           SQRT({_fold_dot('(embedding::DOUBLE[])', '(embedding::DOUBLE[])')}) AS qn
    FROM embeddings WHERE vec_id < {N_QUERIES}
),
c AS MATERIALIZED (
    SELECT vec_id AS candidate_id, embedding::DOUBLE[] AS cv,
           SQRT({_fold_dot('(embedding::DOUBLE[])', '(embedding::DOUBLE[])')}) AS cn
    FROM embeddings
),
scored AS (
    SELECT query_id, candidate_id, ROUND({_COS}, 4) + 0.0 AS sim
    FROM c, q
    WHERE candidate_id <> query_id
)
SELECT query_id, candidate_id, sim, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, candidate_id ASC) AS rank
    FROM scored
)
WHERE rank <= {TOP_K}
"""


@query("ann_cosine_topk", oracle=_TOPK_ORACLE, tags=("similarity",))
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k: broadcast the query batch against
    the candidate table (no candidate shuffle), per-query window for k.
    Dot products via zip_with+aggregate in double precision; sims rounded
    to 4dp so FP summation-order noise cannot flip a rank."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.cosine_topk(queries, emb, k=TOP_K)


_FILTERED_TOPK_ORACLE = f"""
WITH q AS MATERIALIZED (
    SELECT vec_id AS query_id, label, embedding::DOUBLE[] AS qv,
           SQRT({_fold_dot('(embedding::DOUBLE[])', '(embedding::DOUBLE[])')}) AS qn
    FROM embeddings WHERE vec_id < {N_QUERIES}
),
c AS MATERIALIZED (
    SELECT vec_id AS candidate_id, label, embedding::DOUBLE[] AS cv,
           SQRT({_fold_dot('(embedding::DOUBLE[])', '(embedding::DOUBLE[])')}) AS cn
    FROM embeddings
),
scored AS (
    SELECT query_id, candidate_id, ROUND({_COS}, 4) + 0.0 AS sim
    FROM c JOIN q ON c.label = q.label
    WHERE candidate_id <> query_id
)
SELECT query_id, candidate_id, sim, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, candidate_id ASC) AS rank
    FROM scored
)
WHERE rank <= {TOP_K}
"""


@query("ann_filtered_topk", oracle=_FILTERED_TOPK_ORACLE, tags=("similarity",))
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: exact cosine top-k where each query only
    retrieves candidates sharing its metadata (here ``label`` — the
    same-tenant / same-language / same-category restriction every
    production retrieval system needs). The filter is applied in the
    broadcast-join CONDITION (pre-filtering): non-matching candidates
    are rejected at hash-probe cost before any dot product folds, and
    top-k ranks within the filtered set — never post-filtering an
    unfiltered top-k (which returns short lists when near neighbors
    fail the predicate)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.cosine_topk(queries, emb, k=TOP_K, match_cols=["label"])


_PLANES = S.srp_planes(SRP_PLANES, EMB_DIM, "srp")


def _bucket_sql(vec: str) -> str:
    """DuckDB mirror of srp_bucket: per plane, a SEQUENTIAL fold of
    plane[i]*vec[i] (LIST_REDUCE over an index transform — identical
    evaluation order to Spark's aggregate, so the double sums are
    bit-identical), then the sign bit."""
    bits = []
    for plane in _PLANES:
        lits = "[" + ", ".join(f"{v:.1f}" for v in plane) + "]"
        proj = (
            f"LIST_REDUCE(LIST_PREPEND(0.0, LIST_TRANSFORM(RANGE(1, {EMB_DIM + 1}),"
            f" i -> ({lits})[i] * {vec}[i])), (acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    return "(" + " || ".join(bits) + ")"


_LSH_ORACLE = f"""
WITH b AS MATERIALIZED (
    SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
           SQRT({_fold_dot('(embedding::DOUBLE[])', '(embedding::DOUBLE[])')}) AS nrm,
           {_bucket_sql('(embedding::DOUBLE[])')} AS bucket
    FROM embeddings
)
SELECT a.id AS id_a, c.id AS id_b,
       ROUND({_fold_dot('a.vec', 'c.vec')} / (a.nrm * c.nrm), 4) + 0.0 AS sim
FROM b a JOIN b c ON a.bucket = c.bucket AND a.id < c.id
"""


@query("ann_lsh_bucketed", oracle=_LSH_ORACLE, tags=("similarity",))
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed similarity pairs with REAL sign-random-projection:
    buckets from a seeded broadcast Rademacher hyperplane matrix
    (operators.similarity.srp_planes), self-join restricted to matching
    sign-bit buckets — the scale path where brute force would be n^2."""
    emb = load(spark, sf_dir, "embeddings")
    return S.lsh_cosine_candidates(
        emb, planes=SRP_PLANES, dim=EMB_DIM, seed="srp", min_sim=-1.0
    )


NEAR_DUP_SIM = 0.2

_NEAR_DUP_ORACLE = f"""
WITH b AS MATERIALIZED (
    SELECT vec_id AS id, embedding::DOUBLE[] AS vec,
           SQRT({_fold_dot('(embedding::DOUBLE[])', '(embedding::DOUBLE[])')}) AS nrm,
           {_bucket_sql('(embedding::DOUBLE[])')} AS bucket
    FROM embeddings
),
pairs AS (
    SELECT a.id AS id_a, c.id AS id_b,
           ROUND({_fold_dot('a.vec', 'c.vec')} / (a.nrm * c.nrm), 4) + 0.0 AS sim
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.id < c.id
)
SELECT id_b AS drop_id, MIN(id_a) AS keep_id, ARG_MIN(sim, id_a) AS sim
FROM pairs
WHERE sim >= {NEAR_DUP_SIM}
GROUP BY id_b
"""


@query("dedup_embedding_cosine", oracle=_NEAR_DUP_ORACLE, tags=("dedup", "similarity"))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate dedup decisions: SRP-bucketed
    candidate pairs above the similarity threshold reduced to
    (drop_id, keep_id) — keep_id = lowest-id qualifying partner, so the
    lowest member of every near-dup cluster survives without iterative
    connected components. (Threshold tuned low for the synthetic
    uniform embeddings; real corpora use ~0.95+.)"""
    emb = load(spark, sf_dir, "embeddings")
    return S.embedding_near_dup(
        emb, planes=SRP_PLANES, dim=EMB_DIM, seed="srp", threshold=NEAR_DUP_SIM
    )


N_CENTROIDS = 16
NPROBE = 2

# Everything downstream of the `cents(cid, cv)` codebook CTE — shared by
# the fixed-codebook IVF oracle and the k-means-trained variant
# (clustering_ops), which swap in different cents definitions.
_IVF_BODY = f"""sims AS MATERIALIZED (
    SELECT e.vec_id AS candidate_id, e.embedding::DOUBLE[] AS c_vec, c.cid,
           {_fold_dot('c.cv', '(e.embedding::DOUBLE[])')}
             / (SQRT({_fold_dot('c.cv', 'c.cv')})
                * SQRT({_fold_dot('(e.embedding::DOUBLE[])', '(e.embedding::DOUBLE[])')}))
               AS s
    FROM embeddings e CROSS JOIN cents c
),
norms AS MATERIALIZED (
    SELECT vec_id,
           SQRT({_fold_dot('(embedding::DOUBLE[])', '(embedding::DOUBLE[])')}) AS nrm
    FROM embeddings
),
cand_assign AS (
    SELECT candidate_id, c_vec, cid AS cluster FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY candidate_id
                                     ORDER BY s DESC, cid DESC) AS rn
        FROM sims
    ) WHERE rn = 1
),
q_probe AS (
    SELECT query_id, q_vec, cid AS cluster FROM (
        SELECT candidate_id AS query_id, c_vec AS q_vec, cid,
               ROW_NUMBER() OVER (PARTITION BY candidate_id
                                  ORDER BY s DESC, cid DESC) AS rn
        FROM sims WHERE candidate_id < {N_QUERIES}
    ) WHERE rn <= {NPROBE}
),
scored AS (
    SELECT q.query_id, a.candidate_id,
           ROUND({_fold_dot('q.q_vec', 'a.c_vec')} / (qn.nrm * cn.nrm), 4) + 0.0 AS sim
    FROM cand_assign a
    JOIN q_probe q ON a.cluster = q.cluster AND a.candidate_id <> q.query_id
    JOIN norms qn ON qn.vec_id = q.query_id
    JOIN norms cn ON cn.vec_id = a.candidate_id
)
SELECT query_id, candidate_id, sim, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, candidate_id ASC) AS rank
    FROM scored
)
WHERE rank <= {TOP_K}
"""

_IVF_ORACLE = f"""
WITH cents AS (
    SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
    FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
{_IVF_BODY}
"""


def _ivf_inputs(emb: DataFrame) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Shared coarse-quantizer inputs for the IVF queries: the centroid
    codebook (bounded driver collect of the first {N_CENTROIDS} vectors)
    and the query batch. One definition so ann_ivf_topk and
    ann_ivf_recall always measure the SAME index."""
    centroids = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < N_CENTROIDS)
        .orderBy("vec_id")
        .collect()
    ]
    return centroids, emb.filter(F.col("vec_id") < N_QUERIES)


@query("ann_ivf_topk", oracle=_IVF_ORACLE, tags=("similarity",))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: a broadcast coarse-quantizer
    (centroids = the first {N_CENTROIDS} vectors, standing in for a
    k-means codebook — the assignment/probe plumbing is what's under
    test) assigns candidates narrowly, queries probe their nprobe
    nearest clusters, and the candidate comparison is an equi-join on
    cluster id — the inverted-file pattern whose work scales with
    probed-cluster sizes, not n^2."""
    emb = load(spark, sf_dir, "embeddings")
    centroids, queries = _ivf_inputs(emb)
    return S.ivf_cosine_topk(
        queries, emb, centroids, nprobe=NPROBE, k=TOP_K
    )


# Recall is a DERIVED metric over two already-oracled top-k sets, so the
# oracle simply composes them as subqueries and re-derives the overlap —
# the "approximate" in approximate-NN becomes a measured, pinned number.
_IVF_RECALL_ORACLE = f"""
WITH exact AS MATERIALIZED (
    SELECT query_id, candidate_id FROM ({_TOPK_ORACLE}) t
),
approx AS MATERIALIZED (
    SELECT query_id, candidate_id FROM ({_IVF_ORACLE}) t
),
hits AS (
    SELECT e.query_id, COUNT(*) AS n
    FROM exact e
    JOIN approx a
      ON e.query_id = a.query_id AND e.candidate_id = a.candidate_id
    GROUP BY e.query_id
)
SELECT q.query_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
       ROUND(COALESCE(h.n, 0) / {TOP_K}.0, 4) + 0.0 AS recall
FROM (SELECT DISTINCT query_id FROM exact) q
LEFT JOIN hits h ON q.query_id = h.query_id
"""


@query("ann_ivf_recall", oracle=_IVF_RECALL_ORACLE, tags=("similarity",))
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality measurement for the IVF index: per-query
    recall@k of ivf_cosine_topk against the brute-force cosine ground
    truth (ann_cosine_topk). The IVF queries verify determinism; this
    one verifies the APPROXIMATION itself — nprobe/{N_CENTROIDS} tuning
    regressions show up as a recall drop, caught by the value hash.
    Cost shape at scale: both sides are the already-scale-audited top-k
    plans; the overlap join touches only (query, candidate) id pairs
    (n_queries x k rows), negligible against either index pass."""
    emb = load(spark, sf_dir, "embeddings")
    centroids, queries = _ivf_inputs(emb)
    exact = S.cosine_topk(queries, emb, k=TOP_K).select("query_id", "candidate_id")
    approx = S.ivf_cosine_topk(
        queries, emb, centroids, nprobe=NPROBE, k=TOP_K
    ).select("query_id", "candidate_id")
    hits = (
        exact.join(approx, ["query_id", "candidate_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n = F.coalesce(F.col("n"), F.lit(0))
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            n.cast("bigint").alias("n_hits"),
            (F.round(n / float(TOP_K), 4) + F.lit(0.0)).alias("recall"),
        )
    )


@query(
    "embedding_norms",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT vec_id,
           CAST(LEN(v) AS BIGINT) AS dim,
           ROUND(SQRT({_fold_dot('v', 'v')}), 4) AS l2_norm,
           ROUND(LIST_REDUCE(LIST_PREPEND(0.0,
                 LIST_TRANSFORM(RANGE(1, {EMB_DIM + 1}), i -> v[i])),
                 (acc, x) -> acc + x), 4) AS comp_sum
    FROM e
    """,
    tags=("similarity",),
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene metrics (dim, L2 norm, component sum) — the
    cheap full-scan validation pass run before any ANN work."""
    emb = load(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    comp_sum = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    return emb.select(
        "vec_id",
        F.size(v).cast("bigint").alias("dim"),
        F.round(S.l2_norm(v), 4).alias("l2_norm"),
        F.round(comp_sum, 4).alias("comp_sum"),
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (
        SELECT vec_id, v,
               LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x))) AS max_abs
        FROM e
    )
    SELECT vec_id,
           ARRAY_TO_STRING(
             LIST_TRANSFORM(v, x -> CAST(
               CASE WHEN max_abs > 0
                    THEN GREATEST(-127, LEAST(127,
                         FLOOR(x / (max_abs / 127.0) + 0.5)))
                    ELSE 0 END AS BIGINT)),
             ';') AS qvec,
           CAST(FLOOR(max_abs * 1e6 + 0.5) AS BIGINT) AS scale_code,
           CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(v, x -> CAST(
               COALESCE(CASE WHEN max_abs > 0
                    THEN ABS(GREATEST(-127, LEAST(127,
                         FLOOR(x / (max_abs / 127.0) + 0.5))))
                    ELSE 0 END, 0) AS BIGINT))), 0) AS BIGINT) AS q_l1
    FROM m
    """,
    tags=("similarity",),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization through
    operators.similarity.quantize_int8 — the 4x vector-compression step
    a corpus-scale ANN index runs before storage. Quantized values are
    exact integers (identical in both engines: the scale division and
    half-up floor are IEEE-double deterministic), so the hash pins every
    element; qvec is serialized for the driver canonicalizer and q_l1
    adds an order-independent integer checksum."""
    q = S.quantize_int8(load(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        F.array_join(F.col("qvec"), ";").alias("qvec"),
        "scale_code",
        # NULL elements count as 0 and the empty array sums to 0 —
        # matching COALESCE(LIST_SUM(...), 0) since DuckDB's LIST_SUM
        # skips NULL elements and returns NULL on [].
        F.aggregate(
            F.col("qvec"),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + F.coalesce(F.abs(x).cast("bigint"), F.lit(0)),
        ).alias("q_l1"),
    )


_LABELPROP_ORACLE = f"""
WITH b AS MATERIALIZED (
    SELECT vec_id AS id, label,
           {_bucket_sql('(embedding::DOUBLE[])')} AS bucket
    FROM embeddings
),
votes AS (
    SELECT t.id AS tid, l.label AS vote, CAST(COUNT(*) AS BIGINT) AS n
    FROM b t
    JOIN b l ON t.bucket = l.bucket AND t.id <> l.id AND l.id % 2 = 0
    WHERE t.id % 2 = 1
    GROUP BY t.id, l.label
),
ranked AS (
    SELECT tid, vote,
           ROW_NUMBER() OVER (PARTITION BY tid
                              ORDER BY n DESC, vote ASC) AS rn
    FROM votes
)
SELECT t.id AS vec_id,
       CAST(COALESCE(r.vote, -1) AS INT) AS predicted_label,
       CAST(t.label AS INT) AS true_label,
       CAST(COALESCE(r.vote, -1) = t.label AS INT) AS correct
FROM b t
LEFT JOIN (SELECT tid, vote FROM ranked WHERE rn = 1) r ON t.id = r.tid
WHERE t.id % 2 = 1
"""


@query(
    "label_propagation_vote",
    oracle=_LABELPROP_ORACLE,
    tags=("similarity", "graph"),
)
def label_propagation_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the SRP-LSH neighborhood
    graph: half the embedding corpus (odd vec_ids) hides its label and
    takes the majority vote of its same-bucket LABELED neighbors (even
    vec_ids), deterministic tie-break (count DESC, label ASC), -1 when
    the bucket holds no labeled peer. The emitted per-node
    predicted/true/correct rows pin the labeling accuracy — the
    weak-supervision primitive for extending a small labeled seed set
    across a large corpus. On THIS synthetic corpus the latent labels
    are barely separable in embedding space (intra- vs inter-label
    cosine ~0.009 vs -0.004), so the pinned accuracy sits near the
    1/n_labels chance floor — the hash regression-fences the
    graph/vote machinery, not a separability claim. Cost shape: the
    vote join is the SAME
    bucket-keyed self-join as the LSH candidate generation (work =
    collision mass, never n^2); votes aggregate map-side; the argmax is
    a per-test-node window over its <=n_labels vote rows."""
    emb = load(spark, sf_dir, "embeddings")
    matrix = S.srp_planes(SRP_PLANES, EMB_DIM, "srp")
    # checkpoint: the SRP bucketing (8 planes x 64-dim folds per row) feeds the
    # labeled side, the test side, and the final join
    b = (
        emb.select(
            F.col("vec_id").alias("id"),
            "label",
            S.srp_bucket(F.col("embedding"), matrix).alias("bucket"),
        )
    ).localCheckpoint(eager=True)
    test = b.filter(F.col("id") % 2 == 1)
    labeled = b.filter(F.col("id") % 2 == 0).select(
        F.col("id").alias("lid"), F.col("label").alias("vote"), "bucket"
    )
    votes = (
        test.join(labeled, "bucket")
        .filter(F.col("id") != F.col("lid"))
        .groupBy(F.col("id").alias("tid"), "vote")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("tid").orderBy(F.col("n").desc(), F.col("vote").asc())
    best = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("tid", "vote")
    )
    return (
        test.join(best, test.id == best.tid, "left")
        .select(
            F.col("id").alias("vec_id"),
            F.coalesce(F.col("vote"), F.lit(-1)).cast("int").alias(
                "predicted_label"
            ),
            F.col("label").cast("int").alias("true_label"),
            (F.coalesce(F.col("vote"), F.lit(-1)) == F.col("label"))
            .cast("int")
            .alias("correct"),
        )
    )


COV_SCALE = 1_000_000_000_000  # 1e12 fixed-point quantization for covariance


_COV_ORACLE = f"""
WITH e AS MATERIALIZED (
    SELECT embedding::DOUBLE[] AS v FROM embeddings
),
cells AS (
    SELECT t.i AS dim_i, u.j AS dim_j,
           CAST(FLOOR(v[t.i] * v[u.j] * {COV_SCALE}.0 + 0.5) AS BIGINT) AS p,
           CAST(FLOOR(v[t.i] * {COV_SCALE}.0 + 0.5) AS BIGINT) AS xi,
           CAST(FLOOR(v[u.j] * {COV_SCALE}.0 + 0.5) AS BIGINT) AS xj
    FROM e,
         GENERATE_SERIES(1, {EMB_DIM}) AS t(i),
         GENERATE_SERIES(1, {EMB_DIM}) AS u(j)
    WHERE u.j >= t.i
)
SELECT CAST(dim_i AS INT) AS dim_i, CAST(dim_j AS INT) AS dim_j,
       ROUND(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / {COV_SCALE}.0
             - (CAST(SUM(xi) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / {COV_SCALE}.0)
               * (CAST(SUM(xj) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / {COV_SCALE}.0),
             8) + 0.0 AS cov
FROM cells
GROUP BY 1, 2
"""


@query("embedding_pca_covariance", oracle=_COV_ORACLE, tags=("similarity",))
def embedding_pca_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass empirical covariance of the embedding space, emitted as
    the d(d+1)/2 upper-triangle cells — the statistic a PCA / whitening
    stage consumes (the driver-side eigensolve over this d x d result
    is exercised in unit tests). Pair products are generated by a
    per-row nested transform (no join), quantized to 1e-12 fixed point
    (half-up, the engine-wide idiom) so the per-cell sums are exact
    integers; map-side combine collapses the shuffle to d(d+1)/2 cells
    per task at any corpus size."""
    emb = load(spark, sf_dir, "embeddings")
    return S.covariance_pairs(emb, dim=EMB_DIM, scale=COV_SCALE)


# ---------------------------------------------------------------------------
# MMR diversified retrieval over int8-quantized vectors — integer-exact
# ---------------------------------------------------------------------------

MMR_CANDIDATES = 16
MMR_K = 5

# int8 quantization as SQL — the SAME arithmetic as
# operators.similarity.quantize_int8 (and the embedding_quantize_int8
# oracle), so quantized values are exact integers in both engines
_QVEC_SQL = """LIST_TRANSFORM(v, x -> CAST(
    CASE WHEN max_abs > 0
         THEN GREATEST(-127, LEAST(127, FLOOR(x / (max_abs / 127.0) + 0.5)))
         ELSE 0 END AS BIGINT))"""


def _int_dot(a: str, b: str) -> str:
    """Integer dot product of two quantized lists — exact BIGINT, no
    fold-order discipline needed (integer addition commutes)."""
    return (
        f"CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, {EMB_DIM + 1}),"
        f" i -> {a}[i] * {b}[i])) AS BIGINT)"
    )


def _mmr_oracle(c: int = MMR_CANDIDATES, k: int = MMR_K) -> str:
    """Unrolled greedy MMR as a CTE chain: sel1 is the relevance argmax;
    each later step scores every remaining candidate as
    (simq - max sim to the selected set) and takes the argmax with an
    id tie-break — the same iterative-algorithm-as-oracle pattern as
    _kmeans_ctes / _pagerank_oracle, here with zero rounding discipline
    because every similarity is an integer."""
    head = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (
    SELECT vec_id, v, LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x))) AS max_abs
    FROM e
),
q AS (SELECT vec_id, {_QVEC_SQL} AS qv FROM m),
qry AS (SELECT qv FROM q WHERE vec_id = (SELECT MIN(vec_id) FROM q)),
cand AS (
    SELECT q.vec_id AS id, q.qv, {_int_dot('q.qv', 'qry.qv')} AS simq
    FROM q, qry
    WHERE q.vec_id <> (SELECT MIN(vec_id) FROM q)
    ORDER BY simq DESC, id ASC LIMIT {c}
),
pair AS (
    SELECT a.id AS id_a, b.id AS id_b, {_int_dot('a.qv', 'b.qv')} AS sim
    FROM cand a JOIN cand b ON a.id <> b.id
),
sel1 AS (
    SELECT id, simq, CAST(NULL AS BIGINT) AS max_sel
    FROM cand ORDER BY simq DESC, id ASC LIMIT 1
)"""
    its = []
    for t in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT id FROM sel{j}" for j in range(1, t)
        )
        its.append(f""",
rem{t} AS (
    SELECT c.id, c.simq, MAX(p.sim) AS max_sel
    FROM cand c
    JOIN pair p ON p.id_a = c.id AND p.id_b IN ({prev})
    WHERE c.id NOT IN ({prev})
    GROUP BY c.id, c.simq
),
sel{t} AS (
    SELECT id, simq, max_sel FROM rem{t}
    ORDER BY (simq - max_sel) DESC, id ASC LIMIT 1
)""")
    ranks = "\nUNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS rank, id, simq, max_sel FROM sel{t}"
        for t in range(1, k + 1)
    )
    return head + "".join(its) + "\n" + ranks


@query("mmr_diversified_topk", oracle=_mmr_oracle(), tags=("similarity",))
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): from the top-{MMR_CANDIDATES} relevance candidates,
    greedily select {MMR_K} results maximizing
    sim(query, d) - max_sim(d, selected) (lambda = 1/2 up to a common
    positive scale, which argmax ignores) — the diversity re-rank a
    retrieval/RAG pipeline runs after ANN. Everything is integer-exact:
    vectors are int8-quantized (the ANN compression path), so
    similarities are BIGINT dot products and the greedy argmax chain
    needs no rounding discipline. Scale shape: candidate generation is
    the ANN top-C (bounded C per query); the C x C pair-sim table and
    the k greedy steps are O(kC) work per query — the driver holds only
    k one-row argmax picks (the BPE-merge pattern), never the
    embeddings."""
    emb = load(spark, sf_dir, "embeddings")
    qv = S.quantize_int8(emb)
    qmin = emb.agg(F.min("vec_id")).first()[0]  # bounded scalar
    idot = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("qqv"), lambda x, y: x.cast("bigint") * y
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    qry = qv.filter(F.col("vec_id") == qmin).select(
        F.col("qvec").alias("qqv")
    )
    cand = (
        qv.filter(F.col("vec_id") != qmin)
        .select(F.col("vec_id").alias("id"), F.col("qvec").alias("qv"))
        .join(F.broadcast(qry))
        .select("id", "qv", idot.alias("simq"))
        .orderBy(F.col("simq").desc(), F.col("id").asc())
        .limit(MMR_CANDIDATES)
    ).localCheckpoint(eager=True)
    a = cand.select(
        F.col("id").alias("id_a"), F.col("qv").alias("qa")
    )
    b = cand.select(
        F.col("id").alias("id_b"), F.col("qv").alias("qb")
    )
    pair_dot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x.cast("bigint") * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, F.col("id_a") != F.col("id_b")).select(
            "id_a", "id_b", pair_dot.alias("sim")
        )
    ).localCheckpoint(eager=True)
    picks: list[tuple] = []
    first = cand.orderBy(F.col("simq").desc(), F.col("id").asc()).first()
    picks.append((1, first["id"], first["simq"], None))
    for t in range(2, MMR_K + 1):
        sel_ids = [p[1] for p in picks]
        best = (
            cand.filter(~F.col("id").isin(sel_ids))
            .join(
                pairs.filter(F.col("id_b").isin(sel_ids)),
                F.col("id") == F.col("id_a"),
            )
            .groupBy("id", "simq")
            .agg(F.max("sim").alias("max_sel"))
            .orderBy((F.col("simq") - F.col("max_sel")).desc(), F.col("id").asc())
            .first()
        )
        picks.append((t, best["id"], best["simq"], best["max_sel"]))
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("rank", LongType()),
            StructField("id", LongType()),
            StructField("simq", LongType()),
            StructField("max_sel", LongType()),
        ]
    )
    return spark.createDataFrame(picks, schema)
