"""Unit tests for c3dc_etl_spark.operators.dedup on tiny literal frames."""

from __future__ import annotations

from c3dc_etl_spark.operators import dedup as D


def _docs(spark, rows):
    return spark.createDataFrame([(i, r) for i, r in enumerate(rows)], ["id", "txt"])


def test_exact_dedup_groups_normalized_duplicates(spark):
    df = _docs(spark, ["Hello   world", "hello world", "other text", "OTHER  TEXT"])
    out = {r["keep_id"]: r["group_size"] for r in D.exact_dedup(df, "txt", "id").collect()}
    assert out == {0: 2, 2: 2}


def test_char_shingles_distinct_and_short_text(spark):
    df = _docs(spark, ["abcde", "ab"])
    rows = {r["id"]: r["sh"] for r in df.select("id", D.char_shingles("txt", 3).alias("sh")).collect()}
    assert sorted(rows[0]) == ["abc", "bcd", "cde"]
    assert rows[1] == ["ab"]  # shorter than k -> single truncated shingle


def test_minhash_identical_docs_jaccard_one(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = _docs(spark, [base, base, "completely unrelated content about spark engines"])
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_lsh_candidates(df, "txt", "id").collect()
    }
    assert pairs[(0, 1)] == 1.0
    # unrelated doc must not pair with est_jaccard 1.0
    for (a, b), j in pairs.items():
        if (a, b) != (0, 1):
            assert j < 1.0


def test_ngram_jaccard_exact_values(spark):
    base = "spark structured streaming with watermarks"
    df = _docs(spark, [base, base, "zzzz qqqq xxxx wwww ssss tttt uuuu vvvv"])
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, "txt", "id").collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert all(j < 0.2 for (a, b), j in pairs.items() if (a, b) != (0, 1))


def test_ngram_jaccard_shingle_df_cap_lowers_intersection(spark):
    # Three near-identical docs: every shingle has document frequency 3
    # except the ones spanning the distinct suffix. With the df cap
    # below 3 the shared shingles are dropped from the co-occurrence
    # join, so the capped jaccard must be strictly lower than the exact
    # one while sizes (the union denominator) stay unchanged.
    rows = [f"the quick brown fox jumps over the lazy dog number {i}" for i in range(3)]
    df = _docs(spark, rows)
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, "txt", "id").collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, "txt", "id", max_shingle_df=2).collect()
    }
    assert set(capped) == set(exact) and exact
    for k in exact:
        assert capped[k] < exact[k]


def test_simhash_identical_docs_equal_and_near_docs_close(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    far = "one two three four five six seven eight nine ten"
    df = _docs(spark, [base, base, near, far])
    got = {r["doc"]: r["simhash"] for r in D.simhash(df, "txt", "id").collect()}
    assert got[0] == got[1]

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(got[0], got[2]) < hamming(got[0], got[3])


def test_incremental_lsh_cross_side_only(spark):
    from pyspark.sql import functions as F

    base = "the quick brown fox jumps over the lazy dog again and again"
    # ids 0,1: identical docs in the BASE side (must NOT pair);
    # id 10: the same doc on the NEW side (must pair with both base copies);
    # id 11: unrelated new doc (no pairs).
    df = spark.createDataFrame(
        [(0, base), (1, base), (10, base), (11, "entirely different words here xyz")],
        ["id", "txt"],
    )
    out = D.incremental_lsh_candidates(
        df, "txt", "id", F.col("id") >= 10, shingle_k=5, num_hashes=8, bands=4
    )
    pairs = {(r["id_new"], r["id_base"]): r["est_jaccard"] for r in out.collect()}
    assert set(pairs) == {(10, 0), (10, 1)}
    assert all(j == 1.0 for j in pairs.values())


def test_incremental_lsh_per_side_bucket_cap(spark):
    from pyspark.sql import functions as F

    base = "same boilerplate text repeated across the whole base corpus okay"
    rows = [(i, base) for i in range(10)] + [(100, base)]
    df = spark.createDataFrame(rows, ["id", "txt"])
    # cap 5 < 10 base members per band -> the hot base bucket is dropped
    out = D.incremental_lsh_candidates(
        df, "txt", "id", F.col("id") >= 100, shingle_k=5, num_hashes=8,
        bands=4, max_bucket_size=5,
    )
    assert out.count() == 0
    # without the cap the new doc pairs with every base copy
    out2 = D.incremental_lsh_candidates(
        df, "txt", "id", F.col("id") >= 100, shingle_k=5, num_hashes=8,
        bands=4, max_bucket_size=0,
    )
    assert out2.count() == 10


def test_kmv_sketch_estimate_accuracy(spark):
    """The KMV estimate must land near the true cardinality (the whole
    point of the sketch: a testable accuracy contract, std err ~
    1/sqrt(k) ≈ 12.5% at k=64)."""
    from c3dc_etl_spark.suite.sketch_ops import sketch_kmv_distinct

    rows = {
        r["event_type"]: r
        for r in sketch_kmv_distinct(spark, "/root/testdata/sf0.001").collect()
    }
    for r in rows.values():
        exact = r["n_distinct_exact"]
        est = r["est_centi"] / 100.0
        assert exact > 0
        if exact <= 64:
            assert est == exact
        else:
            assert 0.6 * exact <= est <= 1.4 * exact, (exact, est)


def test_containment_doc_inside_doc(spark):
    # short doc pasted verbatim inside a much longer one: containment
    # must be ~1.0 while jaccard stays small (union dominated by the
    # long doc) — the case the containment metric exists for.
    short = "the quick brown fox jumps over the lazy dog"
    longdoc = (
        short
        + " and then continues with a very long unrelated tail about "
        + " ".join(f"token{i}" for i in range(40))
    )
    df = _docs(spark, [short, longdoc])
    cont = {
        (r["id_a"], r["id_b"]): (r["containment"], r["size_a"], r["size_b"])
        for r in D.shingle_containment_pairs(df, "txt", "id", bucket_hashes=8).collect()
    }
    c, sa, sb = cont[(0, 1)]
    assert c == 1.0          # every shingle of the short doc is in the long one
    assert sa < sb           # sizes emitted for directional recovery
    # jaccard on the same pair is bounded by |A|/|B| (full containment):
    # the union is dominated by the long doc, so jaccard misses this
    # near-dup while containment flags it.
    assert sa / sb < 0.2


def test_containment_threshold_filters(spark):
    short = "the quick brown fox jumps over the lazy dog"
    df = _docs(spark, [short, short + " tail", "zzzz qqqq xxxx wwww ssss tttt"])
    out = D.shingle_containment_pairs(
        df, "txt", "id", min_containment=0.9, bucket_hashes=8
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(0, 1)}


def test_prefix_filter_is_lossless_vs_brute_force(spark):
    """AllPairs prefix filtering must find EVERY pair with J >= t — the
    algorithm's defining property, checked against an exhaustive
    python recompute of all C(n,2) word-set Jaccards."""
    from c3dc_etl_spark.suite.dedup_ops import PREFIX_T_DEN, PREFIX_T_NUM
    from c3dc_etl_spark.suite.registry import REGISTRY, load

    SF = "/root/testdata/sf0.001"
    rows = load(spark, SF, "documents").select("doc_id", "text").collect()
    sets = {
        r["doc_id"]: set(t for t in r["text"].lower().split() if t)
        for r in rows
    }
    ids = sorted(sets)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a]) + len(sets[b]) - inter
            if union and PREFIX_T_DEN * inter >= PREFIX_T_NUM * union:
                want[(a, b)] = (len(sets[a]), len(sets[b]), round(inter / union, 4))
    got = {
        (r["id_a"], r["id_b"]): (r["size_a"], r["size_b"], r["jaccard"])
        for r in REGISTRY["dedup_prefix_filter"].fn(spark, SF).collect()
    }
    assert want, "fixture corpus must contain qualifying pairs"
    assert got == want  # complete AND exact: no missed pair, no extras


def test_edit_distance_join_is_lossless_vs_brute_force(spark):
    """Ed-Join prefix filtering must find EVERY pair within the distance
    bound — checked against a banded-DP recompute over all length-
    compatible pairs (the length filter is part of the theorem, so
    pruning on it keeps the recompute exhaustive)."""
    from c3dc_etl_spark.suite.dedup_ops import ED_MAX_DIST
    from c3dc_etl_spark.suite.registry import REGISTRY, load

    SF = "/root/testdata/sf0.001"
    rows = load(spark, SF, "documents").select("doc_id", "text").collect()
    docs = [(r["doc_id"], r["text"]) for r in rows]

    def ed_bounded(a: str, b: str, lim: int) -> int:
        if abs(len(a) - len(b)) > lim:
            return lim + 1
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i] + [0] * len(b)
            mn = lim + 1
            for j, cb in enumerate(b, 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                mn = min(mn, cur[j])
            if mn > lim:
                return lim + 1
            prev = cur
        return prev[-1]

    want = {}
    for i in range(len(docs)):
        ia, ta = docs[i]
        for j in range(i + 1, len(docs)):
            ib, tb = docs[j]
            if abs(len(ta) - len(tb)) > ED_MAX_DIST:
                continue
            d = ed_bounded(ta, tb, ED_MAX_DIST)
            if d <= ED_MAX_DIST:
                key = (ia, ib) if ia < ib else (ib, ia)
                want[key] = d
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in REGISTRY["dedup_edit_distance"].fn(spark, SF).collect()
    }
    assert want, "fixture corpus must contain qualifying pairs"
    assert got == want  # complete AND exact: no missed pair, no extras


def test_edit_distance_join_pair_set_is_q_invariant(spark):
    """The destroy-bound theorem holds for every q, so the exact pair
    set must not move when the gram width changes — the knob only
    trades candidate volume (r8 moved the suite from q=3 to q=5 after
    the saturated trigram vocabulary went quadratic at 5x scale)."""
    from c3dc_etl_spark.operators.dedup import edit_distance_join
    from c3dc_etl_spark.suite.registry import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    sets = []
    for q in (3, 5):
        pairs = edit_distance_join(
            docs, "text", "doc_id", max_dist=8, q=q
        ).select("id_a", "id_b", "dist")
        sets.append({tuple(r) for r in pairs.collect()})
    assert sets[0] == sets[1] and sets[0]


def test_exact_substring_spans_detection_and_merge(spark):
    """Cross-doc verbatim passage, same-doc internal repeat, overlapping
    gram coverage merging into ONE maximal span, and a unique doc
    reporting nothing."""
    shared = "the quick brown fox jumps over the lazy dog near the riverbank"
    rep = "abcdefghij" * 3  # 30 chars, repeated twice inside one doc
    # boundary chars DIFFER on each side so the maximal duplicated span
    # is exactly `shared` (a shared boundary space would honestly extend
    # the verbatim-duplicated span — the detector finds the true span)
    rows = [
        (1, f"XX1{shared}1YY unique tail one"),
        (2, f"other head2{shared}2closing words two"),
        (3, f"solo5{rep}6filler middle part7{rep}8ending"),
        (4, "entirely unique text with no repeats of sufficient length"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_chars"], r["max_span_len"])
        for r in D.exact_substring_spans(
            docs, "text", "doc_id", min_len=20
        ).collect()
    }
    # docs 1 and 2 share one 62-char passage: exactly one span each,
    # spanning the full shared text (every 20-gram inside is duplicated,
    # islands merge them into one maximal span of len(shared))
    assert set(got) == {1, 2, 3}
    assert got[1][0] == 1 and got[1][2] == len(shared)
    assert got[2][0] == 1 and got[2][2] == len(shared)
    # doc 3's internal repeat: both occurrences covered (2 spans of the
    # 30-char run)
    assert got[3][0] == 2 and got[3][2] == 30


def test_exact_substring_spans_threshold_and_validation(spark):
    import pytest

    docs = spark.createDataFrame(
        [(1, "abcd" * 10), (2, "abcd" * 10)], "doc_id bigint, text string"
    )
    # min_len longer than every doc: nothing qualifies
    assert (
        D.exact_substring_spans(docs, "text", "doc_id", min_len=100).count()
        == 0
    )
    with pytest.raises(ValueError, match="min_len"):
        D.exact_substring_spans(docs, "text", "doc_id", min_len=1)


def test_exact_substring_gram_never_crosses_exchange(spark, monkeypatch):
    """VERDICT r11 #2: exact_substring_spans' scale contract is that
    the full-corpus L-byte gram column lives only in scan-side
    projections. Force the NARROW path (a zero broadcast budget) with
    every join forced to a shuffle strategy (broadcast off, AQE off —
    the exact regime where the old shape would shuffle grams L x
    corpus) and assert (a) results are identical to the default
    fast-path run, and (b) no exchange in the physical plan carries an
    attribute named ``gram``. The confirm pass's candidate-subset
    column is deliberately named ``gram_c``, so a regression
    reintroducing a full-corpus gram shuffle fails here BY NAME. The
    FAST path gets the same walk: its hash-set broadcast is an
    explicit hint, honored even at threshold -1, so grams stay
    pipeline-side there too."""
    shared = "the quick brown fox jumps over the lazy dog near the riverbank"
    rows = [
        (1, f"XX1{shared}1YY unique tail one"),
        (2, f"other head2{shared}2closing words two"),
        (3, "entirely unique text with no repeats of sufficient length"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    expect = {
        tuple(r)
        for r in D.exact_substring_spans(
            docs, "text", "doc_id", min_len=20
        ).collect()
    }

    def gram_exchanges(frame):
        exchanges, bad = [], []

        def walk(n):
            if "Exchange" in n.nodeName():
                names = [
                    n.output().apply(i).name()
                    for i in range(n.output().size())
                ]
                exchanges.append(names)
                if "gram" in names:
                    bad.append((n.nodeName(), names))
            ch = n.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

        walk(frame._jdf.queryExecution().executedPlan())
        return exchanges, bad

    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # NARROW path under forced shuffles: the adversarial regime
        from c3dc_etl_spark import sizing

        with monkeypatch.context() as m:
            m.setattr(sizing, "broadcast_budget_bytes", lambda spark: 0)
            out = D.exact_substring_spans(docs, "text", "doc_id", min_len=20)
            got = {tuple(r) for r in out.collect()}
        assert got == expect and got
        exchanges, bad = gram_exchanges(out)
        assert not bad, f"full-corpus gram crossed an exchange: {bad}"
        # the fence is exercised: the forced-shuffle plan really does
        # contain shuffle exchanges (else the assertion proves nothing)
        assert len(exchanges) >= 3, exchanges
        # FAST path under the same confs: the explicit hint must hold
        fast = D.exact_substring_spans(docs, "text", "doc_id", min_len=20)
        assert {tuple(r) for r in fast.collect()} == expect
        _, bad_fast = gram_exchanges(fast)
        assert not bad_fast, bad_fast
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
