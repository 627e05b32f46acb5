"""Deduplication suite queries over the documents table, backed by
c3dc_etl_spark.operators.dedup. Oracle SQL is generated from the same
constants (shingle size, affine-permutation constants, band layout,
bucket caps) as the Spark side, so both engines evaluate the identical
formula end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c3dc_etl_spark.operators import dedup as D
from c3dc_etl_spark.suite.registry import load, query

SHINGLE_K = 12
NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
MAX_BUCKET = 200
# document-frequency cap for the Jaccard co-occurrence join: a shingle
# shared by df docs contributes C(df,2) joined rows, and the measured
# boilerplate tail (df > 200, 0.9 % of shingles at sf0.1) carried 47M of
# the 56M co-occurrence rows — 10x-scale profiling showed that absolute
# volume tipping the join into spill (bench x10 linearity 1.35 without
# the cap). Dropping them only LOWERS intersections for pairs sharing
# ultra-common shingles (sizes unchanged -> capped Jaccard is a
# deterministic lower bound), while boilerplate df grows WITH the corpus
# so the cap gets more selective, never less, at scale.
MAX_SHINGLE_DF = 200
P31 = D.MERSENNE_31

_NORM = "LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))"
_SHINGLES = (
    f"LIST_DISTINCT(LIST_TRANSFORM("
    f"GENERATE_SERIES(1, GREATEST(LENGTH({_NORM}) - {SHINGLE_K - 1}, 1)),"
    f" i -> SUBSTR({_NORM}, i, {SHINGLE_K})))"
)

# hash32: first 8 hex chars of an md5 parsed as a bigint — the DuckDB
# mirror of operators.dedup.hash32 (Spark: CONV(SUBSTR(MD5(s),1,8),16,10)).
_HASHED = (
    "LIST_TRANSFORM(sh, s -> CAST(CONCAT('0x', SUBSTR(MD5(s), 1, 8)) AS BIGINT))"
)


@query(
    "dedup_exact",
    oracle=f"""
    SELECT MD5({_NORM}) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS group_size
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: hash-groupBy on the normalized content
    digest, min-id representative. One shuffle; map-side combine means
    per-reducer traffic is one row per distinct document."""
    docs = load(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "text", "doc_id")


def _sig_sql() -> str:
    mins = ",\n           ".join(
        f"LIST_MIN(LIST_TRANSFORM(hv, v -> (v * {a} + {b}) % {P31}))"
        for a, b in D.perm_constants(NUM_HASHES, "mh")
    )
    return f"[{mins}]"


def _bands_sql() -> str:
    parts = []
    for b in range(BANDS):
        elems = ", '|', ".join(
            f"sig[{b * ROWS_PER_BAND + r + 1}]" for r in range(ROWS_PER_BAND)
        )
        parts.append(f"MD5(CONCAT({elems}))")
    return "[" + ", ".join(parts) + "]"


# Shared CTE chain: documents -> shingles -> signatures -> LSH bands ->
# capped buckets -> candidate pairs. Reused by the components oracle.
_MINHASH_PAIR_CTES = f"""docs AS (
    SELECT doc_id, {_SHINGLES} AS sh FROM documents
),
hashed AS (
    SELECT doc_id, {_HASHED} AS hv FROM docs
),
sigs AS MATERIALIZED (
    SELECT doc_id, {_sig_sql()} AS sig FROM hashed
),
banded AS (
    SELECT doc_id, UNNEST({_bands_sql()}) AS band FROM sigs
),
capped AS (
    SELECT doc_id, band FROM banded
    QUALIFY COUNT(*) OVER (PARTITION BY band) <= {MAX_BUCKET}
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM capped a JOIN capped b ON a.band = b.band AND a.doc_id < b.doc_id
)"""

_MINHASH_ORACLE = f"""
WITH {_MINHASH_PAIR_CTES}
SELECT p.id_a, p.id_b,
       ROUND(CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, {NUM_HASHES}),
                                  i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
             / {NUM_HASHES}.0, 4) AS est_jaccard
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.id_a
JOIN sigs sb ON sb.doc_id = p.id_b
"""


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE, tags=("dedup",))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate candidates: char-shingle -> one
    md5-derived 32-bit hash per shingle -> 16 affine permutations mod
    2^31-1 -> 4 bands -> capped-bucket self-join over bare (id, band)
    rows -> estimated Jaccard from rejoined signatures. Candidate
    generation is O(collisions) with per-bucket work bounded by the cap,
    never O(n^2)."""
    docs = load(spark, sf_dir, "documents")
    return D.minhash_lsh_candidates(
        docs,
        "text",
        "doc_id",
        shingle_k=SHINGLE_K,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        max_bucket_size=MAX_BUCKET,
    )


def _bucket_sql(bucket_hashes: int = 2) -> str:
    mins = ", ".join(
        f"CAST(LIST_MIN(LIST_TRANSFORM(hv, v -> (v * {a} + {b}) % {P31})) AS VARCHAR)"
        for a, b in D.perm_constants(bucket_hashes, "jb")
    )
    return f"[{mins}]"


# hashed is MATERIALIZED: DuckDB inlines plain CTEs per reference, and
# this one (the expensive md5-fold shingle hashing) is referenced by
# three consumers — inlined it was evaluated three times (measured ~3x
# the oracle wall).
_JACCARD_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, {_SHINGLES} AS sh FROM documents
),
hashed AS MATERIALIZED (
    SELECT doc_id, LIST_DISTINCT({_HASHED}) AS hv FROM docs
),
buckets AS (
    SELECT doc_id, UNNEST({_bucket_sql()}) AS bucket FROM hashed
),
capped AS (
    SELECT doc_id, bucket FROM buckets
    QUALIFY COUNT(*) OVER (PARTITION BY bucket) <= {MAX_BUCKET}
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
exploded AS (
    SELECT doc_id, UNNEST(hv) AS h FROM hashed
),
rare AS (
    SELECT doc_id, h FROM exploded
    QUALIFY COUNT(*) OVER (PARTITION BY h) <= {MAX_SHINGLE_DF}
),
co AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
    FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT p.id_a, p.id_b,
       ROUND(CAST(COALESCE(co.inter, 0) AS DOUBLE)
             / (CAST(LEN(sa.hv) + LEN(sb.hv) AS DOUBLE)
                - CAST(COALESCE(co.inter, 0) AS DOUBLE)), 4) AS jaccard
FROM pairs p
LEFT JOIN co ON co.id_a = p.id_a AND co.id_b = p.id_b
JOIN hashed sa ON sa.doc_id = p.id_a
JOIN hashed sb ON sb.doc_id = p.id_b
"""


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE, tags=("dedup",))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity over min-hash-bucketed candidate
    pairs: |A∩B| from an inverted-index co-occurrence join on the
    32-bit shingle hashes (narrow rows only through every shuffle),
    |A∪B| = |A|+|B|-|A∩B| from the per-doc size table. Boilerplate
    shingles are dropped before the co-occurrence join (df cap — see
    MAX_SHINGLE_DF: the C(df,2) blow-up guard the 10x scale check
    showed is load-bearing, cutting the join 56M -> 8.8M rows at
    sf0.1)."""
    docs = load(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        shingle_k=SHINGLE_K,
        max_bucket_size=MAX_BUCKET,
        max_shingle_df=MAX_SHINGLE_DF,
    )


MIN_CONTAINMENT = 0.5
# containment needs MORE min-hash permutations than jaccard: for a
# size-skewed pair (short doc inside long doc) the per-permutation
# collision probability is ~|A∩B|/|A∪B| — tiny when |B| >> |A| even at
# containment 1.0, exactly the pairs this metric exists for. 8 perms
# keep candidate recall usable for such pairs (measured: the
# doc-inside-doc unit fixture is missed at 2 and found at 8).
CONTAINMENT_BUCKET_HASHES = 8

_CONTAINMENT_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, {_SHINGLES} AS sh FROM documents
),
hashed AS MATERIALIZED (
    SELECT doc_id, LIST_DISTINCT({_HASHED}) AS hv FROM docs
),
buckets AS (
    SELECT doc_id, UNNEST({_bucket_sql(CONTAINMENT_BUCKET_HASHES)}) AS bucket FROM hashed
),
capped AS (
    SELECT doc_id, bucket FROM buckets
    QUALIFY COUNT(*) OVER (PARTITION BY bucket) <= {MAX_BUCKET}
),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
exploded AS (
    SELECT doc_id, UNNEST(hv) AS h FROM hashed
),
rare AS (
    SELECT doc_id, h FROM exploded
    QUALIFY COUNT(*) OVER (PARTITION BY h) <= {MAX_SHINGLE_DF}
),
co AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
    FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT * FROM (
    SELECT p.id_a, p.id_b,
           CAST(LEN(sa.hv) AS BIGINT) AS size_a,
           CAST(LEN(sb.hv) AS BIGINT) AS size_b,
           ROUND(CAST(COALESCE(co.inter, 0) AS DOUBLE)
                 / CAST(LEAST(LEN(sa.hv), LEN(sb.hv)) AS DOUBLE), 4)
               AS containment
    FROM pairs p
    LEFT JOIN co ON co.id_a = p.id_a AND co.id_b = p.id_b
    JOIN hashed sa ON sa.doc_id = p.id_a
    JOIN hashed sb ON sb.doc_id = p.id_b
)
WHERE containment >= {MIN_CONTAINMENT}
"""


@query("dedup_containment", oracle=_CONTAINMENT_ORACLE, tags=("dedup",))
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-set CONTAINMENT dedup (Broder 1997's second metric):
    |A∩B| / min(|A|,|B|) over the same min-hash candidate buckets as
    the Jaccard query — catches quote-inclusion / doc-inside-doc
    near-dups whose Jaccard stays tiny because the union is dominated
    by the longer document. Same narrow-row co-occurrence join and
    boilerplate df cap (capped containment is a deterministic lower
    bound: only intersections shrink, sizes don't)."""
    docs = load(spark, sf_dir, "documents")
    return D.shingle_containment_pairs(
        docs,
        "text",
        "doc_id",
        shingle_k=SHINGLE_K,
        min_containment=MIN_CONTAINMENT,
        bucket_hashes=CONTAINMENT_BUCKET_HASHES,
        max_bucket_size=MAX_BUCKET,
        max_shingle_df=MAX_SHINGLE_DF,
    )


def _simhash_sums_sql(bits: int) -> str:
    return ",\n           ".join(
        f"SUM(CASE WHEN SUBSTR(th, {j + 1}, 1) < '8' THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )


def _simhash_pack_sql(bits: int) -> str:
    return " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )


def _simhash_cte(bits: int) -> str:
    return f"""
raw_toks AS (
    SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+')) AS tok
    FROM documents
),
toks AS (
    SELECT doc_id, MD5(tok) AS th FROM raw_toks
),
sums AS (
    SELECT doc_id,
           {_simhash_sums_sql(bits)}
    FROM toks
    GROUP BY doc_id
),
fp AS (
    SELECT doc_id AS doc, CAST({_simhash_pack_sql(bits)} AS BIGINT) AS simhash FROM sums
)
"""


_SIMHASH_ORACLE = f"""
WITH {_simhash_cte(16)}
SELECT doc, simhash FROM fp
"""


@query("dedup_simhash", oracle=_SIMHASH_ORACLE, tags=("dedup",))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints: ONE md5 per token; hex digit j votes +-1 for
    plane j; 16 conditional sums per doc (no token x plane row blowup),
    sign bits packed into a bigint."""
    docs = load(spark, sf_dir, "documents")
    return D.simhash(docs, "text", "doc_id", bits=16)


SIMHASH_MAX_BUCKET = 4000

_SIMHASH_PAIRS_ORACLE = f"""
WITH {_simhash_cte(32)},
banded AS MATERIALIZED (
    SELECT doc, simhash,
           UNNEST([{", ".join(f"CONCAT('{b}', ':', (simhash >> {b * 8}) & 255)" for b in range(4))}])
               AS band
    FROM fp
),
capped AS (
    SELECT doc, simhash, band FROM banded
    QUALIFY COUNT(*) OVER (PARTITION BY band) <= {SIMHASH_MAX_BUCKET}
),
pairs AS (
    SELECT DISTINCT a.doc AS id_a, b.doc AS id_b,
           a.simhash AS fp_a, b.simhash AS fp_b
    FROM capped a JOIN capped b ON a.band = b.band AND a.doc < b.doc
)
SELECT id_a, id_b, CAST(BIT_COUNT(XOR(fp_a, fp_b)) AS INT) AS hamming
FROM pairs
WHERE BIT_COUNT(XOR(fp_a, fp_b)) <= 3
"""


@query("dedup_simhash_pairs", oracle=_SIMHASH_PAIRS_ORACLE, tags=("dedup",))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pair search on 32-bit fingerprints: 8-bit
    band LSH (any two fingerprints within hamming distance 3 share at
    least one of 4 exact bands — pigeonhole), then exact hamming via
    bit_count(xor). Turns the all-pairs hamming scan into a bucketed
    equi-join; 16-bit/4-bit banding would give only 16 distinct keys per
    band and degenerate to an n^2/16 self-join. The bucket cap is the
    skew guard (one band value shared by d docs costs C(d,2) joined
    rows): sized above the largest observed bucket at the tested scale
    factors, so here it is a no-op on results while bounding per-bucket
    work — capped-out buckets are near-identical clusters that
    exact_dedup already collapses."""
    docs = load(spark, sf_dir, "documents")
    return D.simhash_hamming_pairs(
        docs, "text", "doc_id", bits=32, band_bits=8, max_hamming=3,
        max_bucket_size=SIMHASH_MAX_BUCKET,
    )


_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {_MINHASH_PAIR_CTES},
sym AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b AS u, id_a AS v FROM pairs
),
comp AS (
    SELECT doc_id AS u, doc_id AS r FROM documents
    UNION
    SELECT s.u, c.r FROM sym s JOIN comp c ON c.u = s.v
)
SELECT u AS doc_id,
       MIN(r) AS component,
       u = MIN(r) AS is_representative
FROM comp
GROUP BY u
"""


@query("dedup_cluster_components", oracle=_COMPONENTS_ORACLE, tags=("dedup", "graph"))
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash+LSH candidate pairs -> connected
    components (min-label propagation with pointer jumping,
    localCheckpoint per round) -> every document assigned its cluster
    representative (component min; itself for singletons) plus the keep
    flag. This is the transitive-closure step real corpus dedup needs
    after pair generation: A~B, B~C must collapse to ONE survivor even
    when (A, C) was never a candidate pair. The oracle computes the
    same fixpoint as a recursive CTE — tractable at oracle scale,
    while the Spark side is the O(log n)-round distributed algorithm."""
    from c3dc_etl_spark.operators.graph import dedup_assignment

    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(
        docs,
        "text",
        "doc_id",
        shingle_k=SHINGLE_K,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        max_bucket_size=MAX_BUCKET,
    )
    return dedup_assignment(docs, pairs, node_col="doc_id")


# ---------------------------------------------------------------------------
# Incremental (new-snapshot vs existing-corpus) LSH dedup
# ---------------------------------------------------------------------------

NEW_MOD = 10
NEW_MIN = 8  # doc_id % NEW_MOD >= NEW_MIN -> "new snapshot" (20%)

_INCR_ORACLE = f"""
WITH docs AS (
    SELECT doc_id, doc_id % {NEW_MOD} >= {NEW_MIN} AS is_new, {_SHINGLES} AS sh
    FROM documents
),
hashed AS (
    SELECT doc_id, is_new, {_HASHED} AS hv FROM docs
),
sigs AS MATERIALIZED (
    SELECT doc_id, is_new, {_sig_sql()} AS sig FROM hashed
),
banded AS (
    SELECT doc_id, is_new, UNNEST({_bands_sql()}) AS band FROM sigs
),
capped AS (
    SELECT doc_id, is_new, band FROM banded
    QUALIFY COUNT(*) OVER (PARTITION BY band, is_new) <= {MAX_BUCKET}
),
pairs AS (
    SELECT DISTINCT n.doc_id AS id_new, b.doc_id AS id_base
    FROM capped n JOIN capped b
      ON n.band = b.band AND n.is_new AND NOT b.is_new
)
SELECT p.id_new, p.id_base,
       ROUND(CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, {NUM_HASHES}),
                                  i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
             / {NUM_HASHES}.0, 4) AS est_jaccard
FROM pairs p
JOIN sigs sa ON sa.doc_id = p.id_new
JOIN sigs sb ON sb.doc_id = p.id_base
"""


@query("dedup_incremental_lsh", oracle=_INCR_ORACLE, tags=("dedup",))
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: the 20% 'new snapshot' slice of the
    corpus is LSH-matched against the 80% existing base — cross-side
    pairs only, never base-vs-base. One digest pass covers both sides;
    per-side bucket caps stop a hot boilerplate band on the base side
    from fanning out against every new document. This is the shape a
    recurring crawl runs at 100 TB: cost scales with the delta, not the
    corpus."""
    docs = load(spark, sf_dir, "documents")
    return D.incremental_lsh_candidates(
        docs,
        "text",
        "doc_id",
        (F.col("doc_id") % NEW_MOD) >= NEW_MIN,
        shingle_k=SHINGLE_K,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        max_bucket_size=MAX_BUCKET,
    )


# ---------------------------------------------------------------------------
# Cluster representative selection (keep-best policy)
# ---------------------------------------------------------------------------

_CLUSTER_BEST_ORACLE = f"""
WITH RECURSIVE {_MINHASH_PAIR_CTES},
sym AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION
    SELECT id_b AS u, id_a AS v FROM pairs
),
comp AS (
    SELECT doc_id AS u, doc_id AS r FROM documents
    UNION
    SELECT s.u, c.r FROM sym s JOIN comp c ON c.u = s.v
),
assigned AS (
    SELECT u AS doc_id, MIN(r) AS component FROM comp GROUP BY u
)
SELECT a.doc_id, a.component, d.n_chars,
       (ROW_NUMBER() OVER (PARTITION BY a.component
                           ORDER BY d.n_chars DESC, a.doc_id ASC) = 1) AS keep
FROM assigned a JOIN documents d USING (doc_id)
"""


@query("dedup_cluster_best", oracle=_CLUSTER_BEST_ORACLE, tags=("dedup", "graph"))
def dedup_cluster_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection with a KEEP-BEST policy: after
    transitive closure of the near-dup pairs, each cluster keeps its
    longest member (ties -> lowest id) instead of the arbitrary min-id
    doc — the curation rule that preserves the most complete variant of
    boilerplate-mutated duplicates. One window over (component) on top
    of the component assignment; singleton clusters trivially keep
    themselves."""
    from c3dc_etl_spark.operators.graph import dedup_assignment
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(
        docs,
        "text",
        "doc_id",
        shingle_k=SHINGLE_K,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        max_bucket_size=MAX_BUCKET,
    )
    assigned = dedup_assignment(docs, pairs, node_col="doc_id")
    sized = assigned.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = W.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return sized.select(
        "doc_id",
        "component",
        "n_chars",
        (F.row_number().over(w) == 1).alias("keep"),
    )


# Two synthetic snapshots of the documents corpus: the "new" crawl drops
# doc_id % 5 == 0, keeps the rest, and revises every doc_id % 3 == 0
# (suffix marker -> digest change); the "old" snapshot lacks
# doc_id % 7 == 0. Every status class is therefore populated.
_SNAPSHOT_NORM = "LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))"

_SNAPSHOT_DELTA_ORACLE = f"""
WITH old AS (
    SELECT doc_id, MD5({_SNAPSHOT_NORM}) AS h
    FROM documents WHERE doc_id % 7 <> 0
),
new AS (
    SELECT doc_id,
           MD5(CASE WHEN doc_id % 3 = 0
                    THEN LOWER(REGEXP_REPLACE(TRIM(text || ' rev2'), '\\s+', ' ', 'g'))
                    ELSE {_SNAPSHOT_NORM} END) AS h
    FROM documents WHERE doc_id % 5 <> 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.h <> n.h THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
"""


@query("corpus_snapshot_delta", oracle=_SNAPSHOT_DELTA_ORACLE, tags=("dedup",))
def corpus_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (operators.dedup.snapshot_delta): classify
    every document across two crawls as added / removed / changed /
    unchanged by content digest — the reconciliation report an
    incremental ingest runs between snapshots to decide what gets
    re-deduped, re-embedded, and re-packed. Each side reduces to narrow
    (id, digest) rows before ONE full-outer shuffle hash join; full
    text never rides the join."""
    from c3dc_etl_spark.operators.dedup import snapshot_delta

    docs = load(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_delta(old, new, id_col="doc_id", text_col="text")


# ---------------------------------------------------------------------------
# MinHash estimation-quality measurement (est vs exact Jaccard per pair)
# ---------------------------------------------------------------------------

_EST_FORMULA = (
    f"ROUND(CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, {NUM_HASHES}),"
    f" i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / {NUM_HASHES}.0, 4)"
)

_EST_ERROR_ORACLE = f"""
WITH {_MINHASH_PAIR_CTES},
dhashed AS MATERIALIZED (
    SELECT doc_id, LIST_DISTINCT(hv) AS dv FROM hashed
),
exploded AS (
    SELECT doc_id, UNNEST(dv) AS h FROM dhashed
),
co AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
    FROM exploded a JOIN exploded b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
est AS (
    SELECT p.id_a, p.id_b, {_EST_FORMULA} AS est_jaccard
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.id_a
    JOIN sigs sb ON sb.doc_id = p.id_b
),
tru AS (
    SELECT p.id_a, p.id_b,
           ROUND(CAST(COALESCE(co.inter, 0) AS DOUBLE)
                 / (CAST(LEN(da.dv) + LEN(db.dv) AS DOUBLE)
                    - CAST(COALESCE(co.inter, 0) AS DOUBLE)), 4) AS true_jaccard
    FROM pairs p
    LEFT JOIN co ON co.id_a = p.id_a AND co.id_b = p.id_b
    JOIN dhashed da ON da.doc_id = p.id_a
    JOIN dhashed db ON db.doc_id = p.id_b
)
SELECT e.id_a, e.id_b, e.est_jaccard, t.true_jaccard,
       ROUND(ABS(e.est_jaccard - t.true_jaccard), 4) AS abs_err
FROM est e JOIN tru t ON e.id_a = t.id_a AND e.id_b = t.id_b
"""


@query("minhash_estimation_error", oracle=_EST_ERROR_ORACLE, tags=("dedup",))
def minhash_estimation_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality measurement: for every MinHash+LSH candidate
    pair, the signature-estimated Jaccard NEXT TO the exact shingle-set
    Jaccard and their absolute error — the dedup analogue of
    ann_ivf_recall (the 'approximate' is measured, not assumed; a
    permutation-count or banding regression shows up as an error shift
    caught by the value hash). Cost shape: the candidate pass is the
    audited LSH plan; the exact side is the inverted-index
    co-occurrence join (narrow integer rows only); both reuse one
    checkpointed hashed-shingle projection."""
    docs = load(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_candidates(
        docs,
        "text",
        "doc_id",
        shingle_k=SHINGLE_K,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        max_bucket_size=MAX_BUCKET,
    ).select("id_a", "id_b", "est_jaccard")
    hashed = (
        D.spread(docs).select(
            F.col("doc_id").alias("doc"),
            F.array_distinct(
                F.transform(
                    D.shingles_of_norm(D.normalize_text("text"), SHINGLE_K),
                    D.hash32,
                )
            ).alias("dv"),
        )
    ).localCheckpoint(eager=True)
    # Only ~10% of docs appear in ANY candidate pair (measured 0.096 at
    # sf0.1 and x5), so the exact co-occurrence self-join runs over
    # candidate docs only and its pair volume drops ~100x; results are
    # identical because co rows of non-candidate pairs are dropped by
    # the final left join anyway. Checkpointed: pairs feeds the doc
    # set and that left join.
    pairs = pairs.localCheckpoint(eager=True)
    cand_docs = (
        pairs.select(F.col("id_a").alias("doc"))
        .unionAll(pairs.select(F.col("id_b").alias("doc")))
        .distinct()
    )
    ex = hashed.join(F.broadcast(cand_docs), "doc", "left_semi").select(
        "doc", F.explode("dv").alias("h")
    )
    a = ex.select(F.col("doc").alias("id_a"), "h")
    b = ex.select(F.col("doc").alias("id_b"), "h")
    co = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = hashed.select("doc", F.size("dv").alias("n"))
    inter = F.coalesce(F.col("inter"), F.lit(0)).cast("double")
    tru = (
        pairs.join(co, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col("doc").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("doc").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            "est_jaccard",
            F.round(
                inter / ((F.col("na") + F.col("nb")).cast("double") - inter), 4
            ).alias("true_jaccard"),
        )
    )
    return tru.select(
        "id_a",
        "id_b",
        "est_jaccard",
        "true_jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("true_jaccard")), 4).alias(
            "abs_err"
        ),
    )


# --------------------------------------------------------------------------
# T137: exact set-similarity self-join by prefix filtering (AllPairs)
# --------------------------------------------------------------------------

PREFIX_T_NUM = 19
PREFIX_T_DEN = 20  # Jaccard threshold 0.95 — the corpus is heavily
# templated at the word-SET level, so lower thresholds select most of
# the quadratic pair space; 0.95 keeps output the genuine near-dup set.

_PREFIX_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           UNNEST(LIST_DISTINCT(LIST_FILTER(
               REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+'),
               t -> t <> ''))) AS token
    FROM documents
),
rk AS (
    SELECT token, ROW_NUMBER() OVER (ORDER BY COUNT(*), token) AS rk
    FROM toks GROUP BY token
),
pos AS (
    SELECT doc_id, token,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rk) AS p,
           COUNT(*) OVER (PARTITION BY doc_id) AS s
    FROM toks JOIN rk USING (token)
),
pref AS (
    SELECT doc_id, token, s FROM pos
    WHERE p <= s - ({PREFIX_T_NUM} * s + {PREFIX_T_DEN - 1}) // {PREFIX_T_DEN} + 1
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM pref a JOIN pref b
      ON a.token = b.token AND a.doc_id < b.doc_id
     AND {PREFIX_T_DEN} * LEAST(a.s, b.s) >= {PREFIX_T_NUM} * GREATEST(a.s, b.s)
),
inter AS (
    SELECT c.id_a, c.id_b, COUNT(*) AS inter
    FROM cand c
    JOIN toks ta ON ta.doc_id = c.id_a
    JOIN toks tb ON tb.doc_id = c.id_b AND tb.token = ta.token
    GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS s FROM toks GROUP BY doc_id)
SELECT i.id_a, i.id_b,
       CAST(sa.s AS BIGINT) AS size_a,
       CAST(sb.s AS BIGINT) AS size_b,
       ROUND(CAST(inter AS DOUBLE) / CAST(sa.s + sb.s - inter AS DOUBLE), 4)
           AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE {PREFIX_T_DEN} * inter >= {PREFIX_T_NUM} * (sa.s + sb.s - inter)
"""


@query("dedup_prefix_filter", oracle=_PREFIX_ORACLE, tags=("dedup",))
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-set Jaccard self-join (threshold 0.95) by prefix
    filtering — the lossless AllPairs complement to the min-hash
    candidate generation used elsewhere in this family: every
    qualifying pair is found, by construction, not with high
    probability (losslessness is pinned against brute force in
    tests/test_dedup.py). See operators.dedup.prefix_filter_jaccard_join
    for the algorithm and the integer-only membership discipline."""
    docs = load(spark, sf_dir, "documents")
    return D.prefix_filter_jaccard_join(
        docs, "text", "doc_id",
        threshold_num=PREFIX_T_NUM, threshold_den=PREFIX_T_DEN,
    )


# --------------------------------------------------------------------------
# T138: exact bounded edit-distance self-join (Ed-Join q-gram prefix)
# --------------------------------------------------------------------------

ED_MAX_DIST = 8
# q-gram width; prefix length = ED_MAX_DIST * ED_Q + 1. The RESULT is
# q-invariant (any q yields the same exact pair set) but the candidate
# volume is not: q=3 over the documents alphabet has a ~1.6k-gram
# vocabulary that SATURATES as the corpus grows — every "rare" gram's
# df rises linearly with rows, so candidates grow quadratically
# (measured: 12.6x candidates for 5x docs, 1.78 scale linearity). q=5
# keeps the vocabulary far larger than the corpus, so rarest-first
# prefixes stay genuinely rare: identical pairs, 0.17 linearity at 5x.
ED_Q = 5

_ED_PAD = "\x1f" * (ED_Q - 1)

_ED_ORACLE = f"""
WITH base AS (
    SELECT doc_id, text, LENGTH(text) AS len,
           '{_ED_PAD}' || text || '{_ED_PAD}' AS padded
    FROM documents
    WHERE text IS NOT NULL
),
toks AS (
    SELECT doc_id, len,
           UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
               GENERATE_SERIES(1, LENGTH(padded) - {ED_Q} + 1),
               i -> SUBSTR(padded, i, {ED_Q})))) AS gram
    FROM base
),
rk AS (
    SELECT gram, ROW_NUMBER() OVER (ORDER BY COUNT(*), gram) AS rk
    FROM toks GROUP BY gram
),
pos AS (
    SELECT doc_id, len, gram,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY rk) AS p
    FROM toks JOIN rk USING (gram)
),
pref AS (
    SELECT doc_id, len, gram FROM pos WHERE p <= {ED_MAX_DIST * ED_Q + 1}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, a.len AS len_a,
                    b.doc_id AS id_b, b.len AS len_b
    FROM pref a JOIN pref b
      ON a.gram = b.gram AND a.doc_id < b.doc_id
     AND ABS(a.len - b.len) <= {ED_MAX_DIST}
)
SELECT c.id_a, c.id_b,
       CAST(c.len_a AS BIGINT) AS len_a,
       CAST(c.len_b AS BIGINT) AS len_b,
       CAST(LEVENSHTEIN(ta.text, tb.text) AS BIGINT) AS dist
FROM cand c
JOIN base ta ON ta.doc_id = c.id_a
JOIN base tb ON tb.doc_id = c.id_b
WHERE LEVENSHTEIN(ta.text, tb.text) <= {ED_MAX_DIST}
"""


@query("dedup_edit_distance", oracle=_ED_ORACLE, tags=("dedup",))
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT bounded Levenshtein self-join (distance <= 8) by Ed-Join
    q-gram prefix filtering — character-level near-dup detection that
    catches small in-place edits n-gram Jaccard treats as identical
    and MinHash only finds probabilistically. Losslessness is pinned
    against a brute-force banded-DP recompute in tests/test_dedup.py.
    See operators.dedup.edit_distance_join for the destroy-bound
    theorem and the prefix construction."""
    docs = load(spark, sf_dir, "documents")
    return D.edit_distance_join(
        docs, "text", "doc_id", max_dist=ED_MAX_DIST, q=ED_Q
    )


# Round-11 growth tier (r10 verdict item 5a): exact SUBSTRING-level
# dedup — the Lee et al. 2022 ExactSubstr modality the T-family lacked
# (T40's span dedup is hash-shingle approximate; this is verbatim-exact
# at min_len granularity). The oracle replays the covered-position
# identity naively: duplicated L-grams -> covered positions -> per-doc
# island merge — the Spark side must produce the identical span set
# through its hash-prefiltered 3-shuffle plan.
_SUBSTR_L = 40

_SUBSTR_ORACLE = f"""
WITH pos AS (
    SELECT doc_id, text,
           unnest(generate_series(0, length(text) - {_SUBSTR_L})) AS p
    FROM documents WHERE length(text) >= {_SUBSTR_L}
), grams AS (
    SELECT doc_id, CAST(p AS BIGINT) AS p,
           substring(text, CAST(p AS INT) + 1, {_SUBSTR_L}) AS gram
    FROM pos
), dup AS (
    SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2
), hits AS (
    SELECT doc_id, p FROM grams JOIN dup USING (gram)
), lagged AS (
    SELECT doc_id, p,
           LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS lp
    FROM hits
), isl AS (
    SELECT doc_id, p,
           SUM(CASE WHEN p - lp > {_SUBSTR_L} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p) AS island
    FROM lagged
), spans AS (
    SELECT doc_id, island, MIN(p) AS s, MAX(p) + {_SUBSTR_L} AS e
    FROM isl GROUP BY 1, 2
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
       CAST(SUM(e - s) AS BIGINT) AS dup_chars,
       CAST(MAX(e - s) AS BIGINT) AS max_span_len
FROM spans GROUP BY doc_id
"""


@query("dedup_exact_substring", oracle=_SUBSTR_ORACLE, tags=("dedup",))
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplicate spans (Lee et al. 2022's
    ExactSubstr, distributed): every maximal verbatim-repeated span of
    length >= 40 chars, merged per document — the dedup modality that
    catches boilerplate/templated passages INSIDE otherwise-unique
    documents, which document-hash and shingle methods miss or only
    approximate. Suffix-array construction is replaced by the
    covered-position identity over length-40 gram fingerprints: one
    8-byte-key shuffle for hash counts, exact gram confirmation inside
    the duplicated-hash subset (collisions die there — output is
    exact), one per-doc window for the island merge
    (operators/dedup.py: exact_substring_spans)."""
    docs = load(spark, sf_dir, "documents")
    return D.exact_substring_spans(
        docs, "text", "doc_id", min_len=_SUBSTR_L
    )
