"""Text-analysis suite queries over the documents table, backed by
c3dc_etl_spark.operators.text. Oracle SQL is generated from the same
marker/stopword constants so both sides stay in lockstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from c3dc_etl_spark.operators import text as T
from c3dc_etl_spark.suite.registry import load, query


def _sql_count_occ(marker: str) -> str:
    """DuckDB mirror of text._count_occurrences (split-length count)."""
    return (
        f"CAST(LEN(STRING_SPLIT(' ' || LOWER(text) || ' ', ' {marker} ')) - 1 AS BIGINT)"
    )


def _sql_lang_score(lang: str) -> str:
    return " + ".join(_sql_count_occ(m) for m in T.LANG_MARKERS[lang])


_LANG_SCORES_UNION = "\nUNION ALL\n".join(
    f"SELECT doc_id, '{lang}' AS cand_lang, {_sql_lang_score(lang)} AS score FROM documents"
    for lang in sorted(T.LANG_MARKERS)
)

_LANGID_ORACLE = f"""
WITH scores AS (
    {_LANG_SCORES_UNION}
),
best AS (
    SELECT doc_id, cand_lang, score,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, cand_lang DESC) AS rn
    FROM scores
)
SELECT d.doc_id,
       CASE WHEN b.score > 0 THEN b.cand_lang ELSE 'und' END AS detected_lang,
       d.lang AS labeled_lang
FROM documents d
JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
"""


@query("text_language_id", oracle=_LANGID_ORACLE, tags=("text",))
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language identification via stopword-marker counts (n-gram
    heuristic): argmax of per-language whole-word marker hits, 'und' when
    nothing matches. Pure split/length arithmetic — codegen the whole
    way; at 100 TB this is a single narrow pass."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.language_id("text").alias("detected_lang"),
        F.col("lang").alias("labeled_lang"),
    )


_STOP_SUM = " + ".join(_sql_count_occ(w) for w in T.STOPWORDS_EN)

_QUALITY_ORACLE = f"""
WITH feat AS (
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CASE WHEN TRIM(text) = '' THEN 0
                ELSE CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')) AS BIGINT)
           END AS n_tokens,
           CAST(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
           {_STOP_SUM} AS stop_hits
    FROM documents
)
SELECT doc_id, n_chars, n_tokens,
       CAST(FLOOR(CAST(n_chars AS DOUBLE) / GREATEST(n_tokens, 1) * 10000 + 0.5) AS BIGINT)
           AS mean_token_len_x1e4,
       CAST(FLOOR(CAST(n_alpha AS DOUBLE) / GREATEST(n_chars, 1) * 10000 + 0.5) AS BIGINT)
           AS alpha_ratio_x1e4,
       CAST(FLOOR(CAST(stop_hits AS DOUBLE) / GREATEST(n_tokens, 1) * 10000 + 0.5) AS BIGINT)
           AS stopword_ratio_x1e4
FROM feat
"""


@query("text_quality_features", oracle=_QUALITY_ORACLE, tags=("text",))
def text_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring features: length, token count, mean token length,
    alphabetic density, stopword ratio (ratios emitted as x1e4 scaled
    ints — deterministic across engines)."""
    docs = load(spark, sf_dir, "documents")
    f = T.quality_features("text")

    def scaled(c, name):
        return F.floor(c * 10000 + F.lit(0.5)).cast("bigint").alias(name)

    return docs.select(
        "doc_id",
        f["n_chars"].alias("n_chars"),
        f["n_tokens"].alias("n_tokens"),
        scaled(f["mean_token_len"], "mean_token_len_x1e4"),
        scaled(f["alpha_ratio"], "alpha_ratio_x1e4"),
        scaled(f["stopword_ratio"], "stopword_ratio_x1e4"),
    )


@query(
    "text_token_counts",
    oracle="""
    SELECT doc_id,
           CASE WHEN TRIM(text) = '' THEN 0
                ELSE CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')) AS BIGINT)
           END AS n_tokens,
           CAST(LEN(LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+'))) AS BIGINT)
               AS n_distinct_tokens
    FROM documents
    """,
    tags=("text",),
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + distinct (casefolded) token
    vocabulary per document."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.size(F.array_distinct(F.split(F.lower(F.trim("text")), r"\s+")))
        .cast("bigint")
        .alias("n_distinct_tokens"),
    )


@query(
    "text_bpe_token_count",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN TRIM(text) = '' THEN 0
                    ELSE CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')) AS BIGINT)
               END AS n_words,
               LIST_REDUCE(LIST_PREPEND(CAST(0 AS BIGINT),
                   LIST_TRANSFORM(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+'),
                       w -> CAST(CASE WHEN LENGTH(w) > 4
                                      THEN FLOOR((LENGTH(w) - 1) / 4)
                                      ELSE 0 END AS BIGINT))),
                   (acc, x) -> acc + x) AS extra
        FROM documents
    )
    SELECT doc_id, n_words + extra AS n_bpe_tokens
    FROM toks
    """,
    tags=("text",),
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish sub-token estimate: word tokens plus one extra token per
    4 chars of long words — the cheap deterministic proxy for byte-pair
    counts used when sizing training corpora (no tokenizer dependency;
    pure codegen arithmetic, mirrored in the oracle fold)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", T.bpe_ish_token_count("text").alias("n_bpe_tokens")
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(SUBSTR(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')), 1, 256))
               AS fingerprint
    FROM documents
    """,
    tags=("text",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over the normalized 256-char prefix
    (engine-portable rolling-hash stand-in)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", T.doc_fingerprint("text").alias("fingerprint"))


TOP_K_TOKENS = 50

_TOP_TOKENS_ORACLE = f"""
WITH toks AS (
    SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+')) AS token
    FROM documents WHERE TRIM(text) <> ''
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM toks GROUP BY token
ORDER BY n DESC, token ASC
LIMIT {TOP_K_TOKENS}
"""


@query("text_top_tokens", oracle=_TOP_TOKENS_ORACLE, tags=("text",))
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token heavy hitters: explode lowercased tokens,
    hash-aggregate counts (map-side partial combine collapses each
    task's token multiset before the single exchange), deterministic
    ordered limit (count DESC, token ASC) -> TakeOrderedAndProject —
    per-partition top-k merged on the driver, never a global sort."""
    docs = load(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    toks = docs.select(
        F.explode(T.tokens(F.lower(F.col("text")))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(TOP_K_TOKENS)
    )


VOCAB_N = 50

_VOCAB_COVERAGE_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           UNNEST(REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\\s+')) AS token
    FROM documents WHERE TRIM(text) <> ''
),
vocab AS (
    SELECT token FROM (
        SELECT token, COUNT(*) AS n FROM toks GROUP BY token
        ORDER BY n DESC, token ASC LIMIT {VOCAB_N}
    )
),
per_doc AS (
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
    FROM toks t LEFT JOIN vocab v USING (token)
    GROUP BY t.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.n_oov, 0) AS n_oov,
       CAST(FLOOR(CAST(COALESCE(p.n_oov, 0) AS DOUBLE)
                  / GREATEST(COALESCE(p.n_tokens, 0), 1) * 10000 + 0.5)
            AS BIGINT) AS oov_x1e4
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@query("text_vocab_coverage", oracle=_VOCAB_COVERAGE_ORACLE, tags=("text",))
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the corpus's top-{VOCAB_N}
    token vocabulary (deterministic ordered limit — TakeOrdered, never
    a global sort), broadcast it, and report each document's token
    count, out-of-vocabulary count, and OOV rate — the coverage report
    a tokenizer build runs before freezing a vocab. The corpus side is
    one explode + broadcast left join + per-doc aggregate, all
    partial-aggregated map-side; only the tiny vocab is broadcast."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(VOCAB_N)
        .select("token", F.lit(1).alias("__in_vocab"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
    )
    n_tok = F.coalesce("n_tokens", F.lit(0)).cast("bigint")
    n_oov = F.coalesce("n_oov", F.lit(0)).cast("bigint")
    rate = n_oov.cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_tok.alias("n_tokens"),
            n_oov.alias("n_oov"),
            F.floor(rate * 10000 + F.lit(0.5)).cast("bigint").alias("oov_x1e4"),
        )
    )


CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8
_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP

_CHUNK_ORACLE = f"""
WITH toked AS (
    SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+') AS toks
    FROM documents
    WHERE TRIM(text) <> ''
),
wins AS (
    SELECT doc_id, toks,
           UNNEST(LIST_FILTER(
               GENERATE_SERIES(0, GREATEST(LEN(toks) - 1, 0), {_STRIDE}),
               s -> s = 0 OR s + {CHUNK_OVERLAP} < LEN(toks))) AS start
    FROM toked
)
SELECT CONCAT(CAST(doc_id AS STRING), '_', CAST(start // {_STRIDE} AS STRING)) AS chunk_id,
       doc_id,
       CAST(start // {_STRIDE} AS INT) AS chunk_index,
       CAST(LEN(toks[start + 1 : start + {CHUNK_TOKENS}]) AS BIGINT) AS n_tokens,
       ARRAY_TO_STRING(toks[start + 1 : start + {CHUNK_TOKENS}], ' ') AS chunk_text
FROM wins
"""


@query("doc_chunk_windows", oracle=_CHUNK_ORACLE, tags=("text", "chunking"))
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-window chunking: every document split into sliding
    {CHUNK}-token windows advancing by stride (overlap for
    continuity), no window wholly contained in its predecessor.
    Entirely narrow — tokenize, per-row start-offset generation,
    posexplode, slice — zero shuffles at any corpus size."""
    from c3dc_etl_spark.operators.chunking import chunk_documents

    docs = load(spark, sf_dir, "documents")
    return chunk_documents(
        docs, "text", "doc_id", chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP
    )


_LM_ORACLE = r"""
WITH d AS MATERIALIZED (
    SELECT doc_id,
           LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                       t -> t <> '') AS toks
    FROM documents
),
bg AS MATERIALIZED (
    SELECT doc_id, toks[i] || CHR(31) || toks[i + 1] AS bigram, toks[i] AS w1
    FROM d, UNNEST(GENERATE_SERIES(1, LEN(toks) - 1)) AS t(i)
),
c2 AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt2 FROM bg GROUP BY bigram),
c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cnt1 FROM bg GROUP BY w1),
v AS (SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vsz
      FROM (SELECT UNNEST(toks) AS t FROM d)),
s AS (
    SELECT bg.doc_id, LN((c2.cnt2 + 1.0) / (c1.cnt1 + v.vsz)) AS lp
    FROM bg JOIN c2 USING (bigram) JOIN c1 USING (w1) CROSS JOIN v
),
per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, AVG(lp) AS alp
        FROM s GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(per.n_bigrams, 0) AS n_bigrams,
       ROUND(per.alp, 4) + 0.0 AS avg_logprob
FROM d LEFT JOIN per USING (doc_id)
"""


@query("ngram_lm_score", oracle=_LM_ORACLE, tags=("text",))
def ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model quality score (add-one
    smoothing): train C(w1 w2) / C(w1 .) counts over the whole corpus
    in one partial-aggregated shuffle each, score every document as the
    mean log P(w2|w1) = ln((C(w1 w2)+1)/(C(w1 .)+|V|)) of its bigrams —
    the classic KenLM-style perplexity filter, fully declarative. Count
    tables shuffle on the n-gram key (bounded by vocab size, far below
    corpus size); the vocab cardinality is the one driver scalar.
    Documents with fewer than two tokens score NULL with n_bigrams 0."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select("doc_id", T.lower_tokens("text").alias("toks"))
    bg = d.select(
        "doc_id", F.explode(T.bigrams(F.col("toks"))).alias("bigram")
    ).withColumn("w1", F.substring_index("bigram", T.NGRAM_SEP, 1))
    c2 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("cnt2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cnt1"))
    vsz = float(
        d.select(F.explode("toks").alias("t"))
        .agg(F.countDistinct("t"))
        .collect()[0][0]
    )
    lp = F.log((F.col("cnt2") + F.lit(1.0)) / (F.col("cnt1") + F.lit(vsz)))
    per = (
        bg.join(c2, "bigram")
        .join(c1, "w1")
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("lp").alias("alp"))
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_bigrams"),
            (F.round(F.col("alp"), 4) + F.lit(0.0)).alias("avg_logprob"),
        )
    )


_TFIDF_K = 5

_TFIDF_ORACLE = rf"""
WITH d AS MATERIALIZED (
    SELECT doc_id, source,
           LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                       t -> t <> '') AS toks
    FROM documents
),
tok AS MATERIALIZED (
    SELECT doc_id, source, UNNEST(toks) AS t FROM d
),
tf AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok GROUP BY source, t),
dfreq AS (SELECT t, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok
          GROUP BY t),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM d),
scored AS (
    SELECT tf.source, tf.t AS token, tf.tf,
           ROUND(tf.tf * LN(n.n_docs / dfreq.df), 4) + 0.0 AS score
    FROM tf JOIN dfreq USING (t) CROSS JOIN n
)
SELECT source, token, tf, score, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                 ORDER BY score DESC, token ASC) AS rank
    FROM scored
)
WHERE rank <= {_TFIDF_K}
"""


@query("text_tfidf_keywords", oracle=_TFIDF_ORACLE, tags=("text",))
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF keywords: term frequency per (source, token)
    and document frequency per token are each ONE partial-aggregated
    shuffle keyed far below corpus cardinality; the corpus size is the
    single driver scalar; the per-source top-k goes through the
    reducer-bounded salted_topk (a hot source's vocabulary never lands
    on one reducer). Score ties break on the token so ranks are total."""
    from c3dc_etl_spark.operators.skew import salted_topk

    docs = load(spark, sf_dir, "documents")
    d = docs.select("doc_id", "source", T.lower_tokens("text").alias("toks"))
    n_docs = float(d.count())
    tok = d.select("doc_id", "source", F.explode("toks").alias("t"))
    tf = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("t").agg(F.countDistinct("doc_id").alias("df"))
    # rank on the ROUNDED score (house ANN discipline): an ln() last-ulp
    # difference between engines must not be able to flip a near-tie
    scored = tf.join(dfreq, "t").select(
        "source",
        F.col("t").alias("token"),
        "tf",
        (F.round(F.col("tf") * F.log(F.lit(n_docs) / F.col("df")), 4) + F.lit(0.0)).alias(
            "score"
        ),
    )
    top = salted_topk(
        scored,
        ["source"],
        [F.col("score").desc(), F.col("token").asc()],
        _TFIDF_K,
        salt=F.xxhash64("token"),
        rank_col="rank",
    )
    return top.select(
        "source", "token", "tf", "score", F.col("rank").cast("bigint").alias("rank")
    )


# ---------------------------------------------------------------------------
# Distributed BPE-merge training (T66)
# ---------------------------------------------------------------------------

_BPE_MERGES = 3


def _bpe_ctes(m: int) -> str:
    """Unrolled BPE training: words -> framed chars -> m x (pair count,
    argmax, fold-apply). The fold is the SAME greedy left-to-right merge
    the Spark operator runs (string accumulator, binary-collation
    tie-breaks, integer counts) — no floats, so parity is exact."""
    parts = [
        r"""words AS MATERIALIZED (
    SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                                    t -> t <> '')) AS w
          FROM documents)
    GROUP BY w
)""",
        r"""s0 AS MATERIALIZED (
    SELECT word, freq,
           CHR(31) || REGEXP_REPLACE(word, '(.)', '\1' || CHR(31), 'g') AS s
    FROM words
)""",
    ]
    for n in range(1, m + 1):
        parts.append(
            f"""p{n} AS (
    SELECT syms[i] AS a, syms[i + 1] AS b, SUM(freq) AS total
    FROM (SELECT freq, LIST_FILTER(STRING_SPLIT(s, CHR(31)), x -> x <> '') AS syms
          FROM s{n - 1}),
         UNNEST(GENERATE_SERIES(1, LEN(syms) - 1)) AS t(i)
    GROUP BY 1, 2
)"""
        )
        parts.append(
            f"""m{n} AS MATERIALIZED (
    SELECT a, b, CAST(total AS BIGINT) AS total
    FROM p{n}
    QUALIFY ROW_NUMBER() OVER (ORDER BY total DESC, a ASC, b ASC) = 1
)"""
        )
        if n < m:
            parts.append(
                f"""s{n} AS MATERIALIZED (
    SELECT word, freq,
           LIST_REDUCE(
               LIST_PREPEND(CHR(31), LIST_FILTER(STRING_SPLIT(s, CHR(31)),
                                                 x -> x <> '')),
               (acc, x) -> CASE
                   WHEN x = m.b AND ENDS_WITH(acc, CHR(31) || m.a || CHR(31))
                   THEN SUBSTR(acc, 1, LEN(acc) - LEN(m.a) - 1)
                        || m.a || m.b || CHR(31)
                   ELSE acc || x || CHR(31) END) AS s
    FROM s{n - 1}, m{n} m
)"""
            )
    return ",\n".join(parts)


_BPE_ORACLE = (
    f"WITH {_bpe_ctes(_BPE_MERGES)}\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({n} AS BIGINT) AS rank, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, total AS pair_count FROM m{n}"
        for n in range(1, _BPE_MERGES + 1)
    )
)


@query("bpe_train_merges", oracle=_BPE_ORACLE, tags=("text",))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training, the industrial shape: one corpus pass
    builds the word-frequency table, then each merge iteration is a
    vocab-bounded pair-count aggregation + a single-row TakeOrdered
    argmax + a narrow fold-apply (pure codegen expressions, no UDF).
    Output: the learned merges in rank order. The oracle unrolls the
    identical iterations — integer counts and binary string tie-breaks
    mean exact parity, the same discipline as the k-means unroll."""
    from c3dc_etl_spark.operators.bpe import bpe_train

    docs = load(spark, sf_dir, "documents")
    learned, _ = bpe_train(docs, text_col="text", merges=_BPE_MERGES)
    return spark.createDataFrame(
        [
            (n + 1, a, b, a + b, total)
            for n, (a, b, total) in enumerate(learned)
        ],
        "rank long, left_sym string, right_sym string, merged string, pair_count long",
    )


_BPE_SFINAL_CTES = _bpe_ctes(_BPE_MERGES) + f""",
sfinal AS MATERIALIZED (
    SELECT word, freq,
           LIST_REDUCE(
               LIST_PREPEND(CHR(31), LIST_FILTER(STRING_SPLIT(s, CHR(31)),
                                                 x -> x <> '')),
               (acc, x) -> CASE
                   WHEN x = m.b AND ENDS_WITH(acc, CHR(31) || m.a || CHR(31))
                   THEN SUBSTR(acc, 1, LEN(acc) - LEN(m.a) - 1)
                        || m.a || m.b || CHR(31)
                   ELSE acc || x || CHR(31) END) AS s
    FROM s{_BPE_MERGES - 1}, m{_BPE_MERGES} m
)"""

_BPE_APPLY_ORACLE = rf"""
WITH {_BPE_SFINAL_CTES},
wt AS (
    SELECT word,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(s, CHR(31)), x -> x <> ''))
                AS BIGINT) AS n_syms
    FROM sfinal
),
dw AS (
    SELECT doc_id,
           UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                              t -> t <> '')) AS word
    FROM documents
),
per AS (
    SELECT dw.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(wt.n_syms) AS BIGINT) AS n_bpe_tokens
    FROM dw JOIN wt USING (word)
    GROUP BY dw.doc_id
)
SELECT d.doc_id,
       COALESCE(per.n_words, 0) AS n_words,
       COALESCE(per.n_bpe_tokens, 0) AS n_bpe_tokens
FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
"""


@query("bpe_tokenize_apply", oracle=_BPE_APPLY_ORACLE, tags=("text",))
def bpe_tokenize_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-tokenize: the learned BPE merges are applied to the
    corpus via the word table (every merge already folded in), so
    per-document token counts come from a words -> word-table equi-join
    + sum, never from re-running merges per document — the same
    amortization a production tokenizer service uses (tokenize the
    vocab once, join everywhere). Word-keyed join: vocab-bounded build
    side, broadcastable at any corpus size."""
    from c3dc_etl_spark.operators import bpe as B

    docs = load(spark, sf_dir, "documents")
    _, words = B.bpe_train(docs, text_col="text", merges=_BPE_MERGES)
    wt = words.select(
        "word",
        F.size(
            F.filter(F.split(F.col("s"), B.SEP), lambda x: x != F.lit(""))
        ).cast("bigint").alias("n_syms"),
    )
    dw = docs.select(
        "doc_id", F.explode(T.lower_tokens("text")).alias("word")
    )
    per = (
        dw.join(F.broadcast(wt), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_bpe_tokens"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_words"), F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce(F.col("n_bpe_tokens"), F.lit(0))
            .cast("bigint")
            .alias("n_bpe_tokens"),
        )
    )


_CDC_GRAM = 3
_CDC_AVG = 8

_CDC_ORACLE = rf"""
WITH toks AS (
    SELECT doc, i - 1 AS pos, t[i] AS tok
    FROM (SELECT doc_id AS doc,
                 LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                             x -> x <> '') AS t
          FROM documents),
         UNNEST(GENERATE_SERIES(1, LEN(t))) AS u(i)
),
win AS (
    SELECT doc, pos, tok,
           CONCAT_WS(CHR(31), LAG(tok, 2) OVER w, LAG(tok, 1) OVER w, tok)
               AS win
    FROM toks WINDOW w AS (PARTITION BY doc ORDER BY pos)
),
b AS (
    SELECT doc, pos, tok,
           CASE WHEN pos >= {_CDC_GRAM - 1}
                 AND (CAST(CONCAT('0x', SUBSTR(MD5(win), 1, 8)) AS BIGINT)
                      % {_CDC_AVG}) = 0
                THEN 1 ELSE 0 END AS bd
    FROM win
),
seg AS (
    SELECT doc, pos, tok,
           COALESCE(SUM(bd) OVER (PARTITION BY doc ORDER BY pos
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS segment_id
    FROM b
)
SELECT doc AS doc_id,
       CAST(segment_id AS BIGINT) AS segment_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(MIN(pos) AS BIGINT) AS start_pos,
       MD5(STRING_AGG(tok, CHR(31) ORDER BY pos)) AS segment_digest
FROM seg GROUP BY doc, segment_id
"""


@query("doc_chunk_content_defined", oracle=_CDC_ORACLE, tags=("text", "chunking"))
def doc_chunk_content_defined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (rsync/LBFS boundaries on token
    streams): a token ends a window when the 32-bit hash of the
    trailing 3-gram is 0 mod 8, so segment boundaries follow LOCAL
    content — an insertion re-chunks only the segment it touches and
    every later segment digest is unchanged, which is what chunk-level
    dedup needs to survive edits (fixed windows shift everything).
    Narrow explode + per-doc running sum; segment digests feed exact
    dedup directly."""
    from c3dc_etl_spark.operators.chunking import content_defined_chunks

    docs = load(spark, sf_dir, "documents")
    return content_defined_chunks(
        docs, text_col="text", id_col="doc_id", gram=_CDC_GRAM, avg_tokens=_CDC_AVG
    )


PMI_MIN_COUNT = 3
PMI_SCALE = 1_000_000

_PMI_ORACLE = rf"""
WITH d AS (
    SELECT LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\s+'),
                       t -> t <> '') AS toks
    FROM documents
),
bg AS (
    SELECT toks[i] AS w1, toks[i + 1] AS w2
    FROM d, UNNEST(GENERATE_SERIES(1, LEN(toks) - 1)) AS t(i)
),
cxy AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_xy FROM bg GROUP BY 1, 2),
cx AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n_x FROM bg GROUP BY 1),
cy AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_y FROM bg GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM bg)
SELECT w1, w2, n_xy, n_x, n_y,
       CAST((n_xy * nn * {PMI_SCALE}) // (n_x * n_y) AS BIGINT) AS pmi_x1e6
FROM cxy JOIN cx USING (w1) JOIN cy USING (w2) CROSS JOIN n
WHERE n_xy >= {PMI_MIN_COUNT}
"""


@query("text_pmi_collocations", oracle=_PMI_ORACLE, tags=("text",))
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining via pointwise mutual information over adjacent
    token pairs, WITHOUT the log: PMI's ranking is monotone in
    p(x,y)/(p(x)p(y)) = n_xy*N/(n_x*n_y), so the emitted statistic is
    that ratio in 1e-6 fixed point via exact integral division — the
    engine-wide escape from libm (ln() last-ulp divergence would make
    the hash compare flaky; see sketch_ops HLL notes). Marginals and
    pair counts are three map-side-combined aggregates over one bigram
    pass; N is the only driver scalar. BIGINT headroom: n_xy*N*1e6
    overflows past ~9e18 — at trillion-bigram scale the documented
    upgrade is decimal(38,0) for the numerator product."""
    docs = load(spark, sf_dir, "documents")
    toks = T.lower_tokens("text")
    pairs = F.filter(
        F.transform(
            toks,
            lambda x, i: F.struct(
                x.alias("w1"), F.get(toks, i + 1).alias("w2")
            ),
        ),
        lambda s: s["w2"].isNotNull(),
    )
    bg = docs.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")

    bg = bg.localCheckpoint(eager=True)
    n_total = bg.count()
    cxy = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_xy")
    )
    cx = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("n_x"))
    cy = bg.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n_y"))
    return (
        cxy.filter(F.col("n_xy") >= PMI_MIN_COUNT)
        .join(F.broadcast(cx), "w1")
        .join(F.broadcast(cy), "w2")
        .select(
            "w1",
            "w2",
            "n_xy",
            "n_x",
            "n_y",
            F.expr(f"(n_xy * {n_total}L * {PMI_SCALE}) div (n_x * n_y)")
            .cast("bigint")
            .alias("pmi_x1e6"),
        )
    )


LANG_TOP_K = 5

_TOP_PER_LANG_ORACLE = rf"""
WITH tok AS (
    SELECT lang, t AS token, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT lang,
               UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)),
                                                     '\s+'),
                                  x -> x <> '')) AS t
        FROM documents
    )
    GROUP BY lang, t
),
ranked AS (
    SELECT lang, token, n,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY n DESC, token) AS BIGINT) AS rnk
    FROM tok
)
SELECT lang, rnk, token, n FROM ranked WHERE rnk <= {LANG_TOP_K}
"""


@query("top_tokens_per_lang", oracle=_TOP_PER_LANG_ORACLE, tags=("text",))
def top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (k > 1): the five most frequent tokens per
    language by windowed rank over the aggregated token counts —
    deterministic (count desc, token) ordering so ties cannot flip the
    cut. The window partitions by the group key, so every language
    ranks in parallel; at skewed scale the same contract is served by
    operators/skew.salted_topk (partial per-salt heaps, then a k-bounded
    merge), which clustering_ops already exercises."""
    docs = load(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "lang", F.explode(T.lower_tokens("text")).alias("token")
        )
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token"))
    return (
        tok.select(
            "lang",
            F.row_number().over(w).cast("bigint").alias("rnk"),
            "token",
            "n",
        )
        .filter(F.col("rnk") <= LANG_TOP_K)
    )


_FH_BITS = 10  # 1024 buckets
_FH_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, UNNEST(STR_SPLIT(text, ' ')) AS tok FROM documents
),
b AS (
    SELECT doc_id,
           CAST(CONCAT('0x', SUBSTR(MD5('fh:' || tok), 1, 8)) AS BIGINT)
               % {1 << _FH_BITS} AS bucket
    FROM tok WHERE LENGTH(tok) > 0
),
c AS (
    SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM b GROUP BY 1, 2
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS nnz,
       CAST(SUM(cnt * cnt) AS BIGINT) AS sq_norm,
       ARRAY_TO_STRING(LIST(bucket || ':' || cnt ORDER BY bucket), ';')
           AS sparse_vec
FROM c GROUP BY doc_id
"""


@query("feature_hashing_vectorize", oracle=_FH_ORACLE, tags=("text", "ml"))
def feature_hashing_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al. 2009):
    tokens map straight to one of 2^{_FH_BITS} buckets via the md5 fold
    — NO vocabulary pass, no dictionary broadcast, memory constant in
    vocabulary size, which is why it is the default text vectorizer at
    corpus scale (collisions are the accepted trade, and the fixed
    bucket space is what makes the vectors join/aggregate-compatible
    across shards and corpus versions). Emits per-document nnz, exact
    integer squared norm, and the bucket-sorted sparse vector
    serialized for the driver canonicalizer. One explode + one
    two-level aggregate; the hash is the suite's cross-engine fold so
    the oracle reproduces bucket ids bit-for-bit."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("fh:"), F.col("tok"))), 1, 8),
            16,
            10,
        ).cast("long")
        % (1 << _FH_BITS)
    )
    c = tok.select("doc_id", bucket.alias("bucket")).groupBy(
        "doc_id", "bucket"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return c.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nnz"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sq_norm"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("bucket", "cnt"))
                ),
                lambda s: F.concat_ws(":", s["bucket"], s["cnt"]),
            ),
            ";",
        ).alias("sparse_vec"),
    )


_CONFUSION_ORACLE = f"""
WITH scores AS (
    {_LANG_SCORES_UNION}
),
best AS (
    SELECT doc_id, cand_lang, score,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, cand_lang DESC) AS rn
    FROM scores
),
pred AS (
    SELECT d.doc_id, d.lang AS labeled,
           CASE WHEN b.score > 0 THEN b.cand_lang ELSE 'und' END AS detected
    FROM documents d JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
),
cells AS (
    SELECT labeled, detected, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
),
tot AS (SELECT labeled, CAST(SUM(n) AS BIGINT) AS n_labeled FROM cells GROUP BY 1)
SELECT c.labeled, c.detected, c.n, t.n_labeled,
       (c.n * 1000000) // t.n_labeled AS share_ppm,
       c.labeled = c.detected AS is_correct
FROM cells c JOIN tot t USING (labeled)
"""


@query(
    "langid_confusion_matrix",
    oracle=_CONFUSION_ORACLE,
    tags=("text", "ml"),
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a confusion matrix: the T29 language
    identifier's predictions against the labeled language, one cell per
    (labeled, detected) with count, per-label volume, and the exact
    integral-ppm share — precision/recall/accuracy all read straight
    off this table, which is how a filter model gets audited before it
    gates a corpus. Built ON the real classifier output (the same
    argmax column expression), then two tiny aggregations over the
    |langs|² cell domain; the heavy input sees one narrow codegen
    pass."""
    docs = load(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("labeled"),
        T.language_id("text").alias("detected"),
    )
    cells = pred.groupBy("labeled", "detected").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cells.groupBy("labeled").agg(F.sum("n").alias("n_labeled"))
    return cells.join(tot, "labeled").select(
        "labeled",
        "detected",
        "n",
        "n_labeled",
        F.expr("(n * 1000000) div n_labeled").alias("share_ppm"),
        (F.col("labeled") == F.col("detected")).alias("is_correct"),
    )
