"""Full-text retrieval suite queries over the documents table, backed by
c3dc_etl_spark.operators.search: inverted-index construction, conjunctive
(AND) keyword search, and BM25 ranked retrieval.

Cross-engine discipline (registry docstring rules): the BM25 constants
are embedded into the oracle SQL via ``repr()`` of the SAME Python floats
the Spark plan uses as literals, so both engines parse bit-identical
doubles (``BM25_K1 + 1`` computed in Python is NOT guaranteed to equal a
hand-written ``2.2`` literal — the float sum can land on the other side
of a representation tie). Per-term scores are quantized to 1e-9 fixed
point before the cross-term sum (exact-integer document scores; a raw
double sum would be addend-order-dependent), and the emitted ``score``
is one correctly-rounded division off that integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from c3dc_etl_spark.operators import search as S
from c3dc_etl_spark.suite.registry import load, query

# DuckDB mirror of text.lower_tokens (the canonical tokenization).
_TOK_SQL = (
    "LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'), "
    "x -> x <> '')"
)

_TF_CTE = f"""
tf AS (
    SELECT doc_id, t AS token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, UNNEST({_TOK_SQL}) AS t FROM documents)
    GROUP BY doc_id, t
)
"""

# Query vocabularies: drawn from the generator's fixed corpus vocabulary;
# 'dup' is the one rare term (df ~5% of docs), the others are common —
# exercising both a selective and a stop-wordy posting list.
AND_TERMS = ("dup", "merge", "window")
BM25_TERMS = ("dup", "window", "sort")
BM25_K = 20


def _terms_sql(terms: tuple[str, ...]) -> str:
    return ", ".join(f"'{t}'" for t in terms)


_INDEX_ORACLE = f"""
WITH {_TF_CTE}
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       ARRAY_TO_STRING(LIST_SORT(LIST(doc_id))[1:10], ';') AS postings_head
FROM tf
GROUP BY token
"""


@query("search_inverted_index", oracle=_INDEX_ORACLE, tags=("search",))
def search_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: per token, document frequency, total
    term count, and a bounded deterministic head of the ascending posting
    list. The index stays relational (token -> rows) — a stop-word's full
    posting list is corpus-sized and must never be materialized into one
    array row at 100 TB (operators/search.py docstring)."""
    docs = load(spark, sf_dir, "documents")
    return S.inverted_index(S.doc_term_freq(docs, "text", "doc_id"))


_AND_ORACLE = f"""
WITH {_TF_CTE}
SELECT doc_id,
       CAST(COUNT(DISTINCT token) AS BIGINT) AS n_terms,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       CAST(MIN(tf) AS BIGINT) AS min_tf,
       CAST(MAX(tf) AS BIGINT) AS max_tf
FROM tf
WHERE token IN ({_terms_sql(AND_TERMS)})
GROUP BY doc_id
HAVING COUNT(DISTINCT token) = {len(AND_TERMS)}
"""


@query("search_conjunctive", oracle=_AND_ORACLE, tags=("search",))
def search_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean AND keyword search by posting intersection: one pushed
    vocabulary filter + one groupBy keeping docs whose distinct matched
    term count equals |query|. Intersecting k posting lists is a single
    aggregation — never k-1 self-joins."""
    docs = load(spark, sf_dir, "documents")
    tf = S.doc_term_freq(docs, "text", "doc_id")
    return S.conjunctive_match(tf, list(AND_TERMS))


# Positional postings: 0-based index into the filtered token stream.
_OCC_CTE = f"""
d AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
occ AS (
    SELECT doc_id, i - 1 AS pos, toks[i] AS token
    FROM d, UNNEST(GENERATE_SERIES(1, LEN(toks))) AS t(i)
)
"""

# Deliberately a REPEATED-token phrase: the anchor trick must not
# double-count a single 'order' occurrence as both slots.
PHRASE = ("order", "order")
PROX_A, PROX_B, PROX_WINDOW = "dup", "merge", 12

_PHRASE_ORACLE = f"""
WITH {_OCC_CTE},
slots(slot, token) AS (VALUES {", ".join(f"({i}, '{t}')" for i, t in enumerate(PHRASE))}),
hits AS (
    SELECT doc_id, anchor FROM (
        SELECT o.doc_id, o.pos - s.slot AS anchor,
               COUNT(DISTINCT s.slot) AS n_slots
        FROM occ o JOIN slots s ON o.token = s.token
        GROUP BY o.doc_id, o.pos - s.slot
    ) WHERE n_slots = {len(PHRASE)} AND anchor >= 0
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(MIN(anchor) AS BIGINT) AS first_pos
FROM hits GROUP BY doc_id
"""


@query("search_phrase_positions", oracle=_PHRASE_ORACLE, tags=("search",))
def search_phrase_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact consecutive-phrase search over a positional index via the
    anchor trick (operators/search.py:phrase_match): one broadcast join
    of vocabulary-filtered postings against the k-row slot table + one
    groupBy — plan size constant in phrase length, never k-1 self-joins.
    The test phrase repeats its token, pinning the distinct-slot
    alignment logic."""
    docs = load(spark, sf_dir, "documents")
    return S.phrase_match(
        S.doc_positions(docs, "text", "doc_id"), list(PHRASE)
    )


_PROX_ORACLE = f"""
WITH {_OCC_CTE},
a AS (SELECT doc_id, pos AS pa FROM occ WHERE token = '{PROX_A}'),
b AS (SELECT doc_id, pos AS pb FROM occ WHERE token = '{PROX_B}')
SELECT a.doc_id,
       CAST(COUNT(DISTINCT pa) AS BIGINT) AS n_a,
       CAST(COUNT(DISTINCT pb) AS BIGINT) AS n_b,
       CAST(MIN(ABS(pa - pb)) AS BIGINT) AS min_dist
FROM a JOIN b ON a.doc_id = b.doc_id
GROUP BY a.doc_id
HAVING MIN(ABS(pa - pb)) <= {PROX_WINDOW}
"""


@query("search_proximity_window", oracle=_PROX_ORACLE, tags=("search",))
def search_proximity_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity search: documents where a rare term ('dup', df ~5%)
    and a common term ('merge') co-occur within 5 token positions, with
    the exact minimum distance. The per-doc all-pairs min is bounded by
    tf_a x tf_b, never corpus-sized (operators/search.py docstring for
    the stop-word upgrade path)."""
    docs = load(spark, sf_dir, "documents")
    return S.proximity_match(
        S.doc_positions(docs, "text", "doc_id"), PROX_A, PROX_B, PROX_WINDOW
    )


TFIDF_DF_CAP_PCT = 6

_TFIDF_ORACLE = f"""
WITH {_TF_CTE},
stats AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
dfreq AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
),
w AS (
    SELECT t.doc_id, t.token, f.df,
           CAST((t.tf * (2 * s.n - 2 * f.df + 1) * {S.TFIDF_SCALE})
                // (2 * f.df + 1) AS BIGINT) AS w
    FROM tf t JOIN dfreq f USING (token) CROSS JOIN stats s
),
rare AS (
    SELECT doc_id, token FROM w, stats s
    WHERE df <= GREATEST(1, (s.n * {TFIDF_DF_CAP_PCT}) // 100)
),
pairs AS (
    SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
    FROM rare a JOIN rare b ON a.token = b.token AND a.doc_id < b.doc_id
),
dot AS (
    SELECT p.da, p.db,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           CAST(SUM(wa.w * wb.w) AS BIGINT) AS dot_fp
    FROM pairs p
    JOIN w wa ON wa.doc_id = p.da
    JOIN w wb ON wb.doc_id = p.db AND wb.token = wa.token
    GROUP BY p.da, p.db
),
n2 AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2 FROM w GROUP BY doc_id)
SELECT d.da AS doc_a, d.db AS doc_b, d.n_shared, d.dot_fp,
       CAST(d.dot_fp AS DOUBLE)
           / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE)))
           AS cosine
FROM dot d
JOIN n2 na ON na.doc_id = d.da
JOIN n2 nb ON nb.doc_id = d.db
"""


@query("similarity_tfidf_pairs", oracle=_TFIDF_ORACLE, tags=("search", "similarity"))
def similarity_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical tf-idf cosine between documents sharing a rare token
    (df <= 6% of corpus): rare-token blocking bounds the pair space
    (stop tokens never self-join — the |corpus|^2 trap at 100 TB), the
    cosine is exact over ALL shared tokens, and dot/norms are exact
    BIGINT fixed-point sums (operators/search.py:tfidf_cosine_pairs)."""
    docs = load(spark, sf_dir, "documents")
    tf = S.doc_term_freq(docs, "text", "doc_id").localCheckpoint(eager=True)
    n_docs = tf.select("doc_id").distinct().count()
    return S.tfidf_cosine_pairs(tf, n_docs, df_cap_pct=TFIDF_DF_CAP_PCT)


# Constants embedded from the very Python floats the Spark literals use.
_K1 = repr(S.BM25_K1)
_K1P1 = repr(S.BM25_K1 + 1)
_B = repr(S.BM25_B)
_1MB = repr(1.0 - S.BM25_B)
_SCALE = repr(float(S.BM25_SCALE))

_BM25_ORACLE = f"""
WITH {_TF_CTE},
dl AS (
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS BIGINT) AS avgdl
    FROM dl
),
cand AS (
    SELECT doc_id, token, tf FROM tf
    WHERE token IN ({_terms_sql(BM25_TERMS)})
),
dfreq AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM cand GROUP BY token
),
scored AS (
    SELECT c.doc_id,
           CAST(FLOOR(
               (CAST(2 * s.n_docs - 2 * f.df + 1 AS DOUBLE)
                / CAST(2 * f.df + 1 AS DOUBLE))
               * (CAST(c.tf AS DOUBLE) * {_K1P1})
               / (CAST(c.tf AS DOUBLE)
                  + {_K1} * ({_1MB}
                             + {_B} * (CAST(d.dl AS DOUBLE) / s.avgdl)))
               * {_SCALE} + 0.5
           ) AS BIGINT) AS fp
    FROM cand c
    JOIN dfreq f USING (token)
    JOIN dl d USING (doc_id)
    CROSS JOIN stats s
),
top AS (
    SELECT doc_id, CAST(SUM(fp) AS BIGINT) AS score_fp
    FROM scored GROUP BY doc_id
    ORDER BY score_fp DESC, doc_id
    LIMIT {BM25_K}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_fp DESC, doc_id) AS INT)
           AS rank,
       doc_id, score_fp,
       CAST(score_fp AS DOUBLE) / {_SCALE} AS score
FROM top
"""


@query("search_bm25_topk", oracle=_BM25_ORACLE, tags=("search",))
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (rational idf — see operators/search.py on
    why the libm-log classic idf cannot cross engines bit-stably) over a
    3-term disjunctive query. n_docs/avgdl are the only driver scalars
    (two numbers); top-k plans TakeOrderedAndProject — per-partition
    heaps, never a global sort."""
    docs = load(spark, sf_dir, "documents")
    # Checkpointed: the tf relation feeds the scalar pre-pass AND three
    # subtrees of the scoring plan (candidates, df, dl).
    tf = S.doc_term_freq(docs, "text", "doc_id").localCheckpoint(eager=True)
    row = tf.agg(
        F.countDistinct("doc_id").alias("n"), F.sum("tf").alias("t")
    ).collect()[0]
    n_docs, total = int(row["n"]), int(row["t"])
    # avgdl as ONE float division of two exact integers — bit-identical
    # to the oracle's CAST(SUM AS DOUBLE) / COUNT(*).
    return S.bm25_topk(tf, list(BM25_TERMS), n_docs, total / n_docs, k=BM25_K)


@query("search_index_segment_merge", oracle=_INDEX_ORACLE, tags=("search",))
def search_index_segment_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance by segment merge (the Lucene write
    path): two segments built independently over disjoint halves of the
    corpus merge into EXACTLY the single-build index — df/total_tf are
    additive, and the merged postings head re-sorts the union of the
    segment heads (correct by the smallest-of-its-segment argument,
    operators/search.py:merge_index_segments). The oracle is the full
    single-pass build, so hash parity proves segment-built == full-built
    — the property that lets an index absorb a delta batch without
    re-tokenizing the corpus."""
    docs = load(spark, sf_dir, "documents")
    seg_a = S.inverted_index(
        S.doc_term_freq(docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id")
    )
    seg_b = S.inverted_index(
        S.doc_term_freq(docs.filter(F.col("doc_id") % 2 == 1), "text", "doc_id")
    )
    return S.merge_index_segments(seg_a, seg_b)
