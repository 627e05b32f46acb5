"""harmonize.windows unit tests (A1/A2) — vectors from the reference's
_get_latest_survival_record / _get_primary_follow_up semantics
(etl/ccdi/c3dc_etl.py:1171-1211, etl/mci/c3dc_etl.py:811-870)."""

from __future__ import annotations

from c3dc_etl_spark.harmonize.windows import latest_survival, primary_follow_up

SCHEMA = (
    "participant_id string, survival_id string, "
    "last_known_survival_status string, age_at_last_known_survival_status long, "
    "source_file_row_num long"
)


def _pick(spark, rows, **kw):
    df = spark.createDataFrame(rows, SCHEMA)
    return {
        r["participant_id"]: r["survival_id"]
        for r in latest_survival(df, **kw).collect()
    }


def test_first_dead_in_source_order_wins(spark):
    got = _pick(
        spark,
        [
            ("p1", "s1", "Alive", 100, 1),
            ("p1", "s2", "Dead", 200, 2),
            ("p1", "s3", "Dead", 300, 3),
        ],
    )
    assert got == {"p1": "s2"}


def test_max_age_alive_later_record_breaks_tie(spark):
    got = _pick(
        spark,
        [
            ("p1", "s1", "Alive", 300, 1),
            ("p1", "s2", "Alive", 300, 2),  # tie -> later source row
            ("p1", "s3", "Alive", 100, 3),
        ],
    )
    assert got == {"p1": "s2"}


def test_inconsistent_alive_after_dead_drops_participant(spark):
    got = _pick(
        spark,
        [
            ("p1", "s1", "Dead", 200, 1),
            ("p1", "s2", "Alive", 300, 2),  # alive age > max dead age
            ("p2", "s3", "Dead", 200, 1),
            ("p2", "s4", "Alive", 150, 2),  # consistent
        ],
    )
    assert got == {"p2": "s3"}
    # a null status is neither Dead nor non-Dead for the check, and a
    # null age sorts below every age: neither makes a participant
    # inconsistent, while an Alive age above the Dead age still does
    got = _pick(
        spark,
        [
            ("p1", "s1", "Dead", 200, 1),
            ("p1", "s2", None, 300, 2),
            ("p2", "s3", "Dead", 200, 1),
            ("p2", "s4", "Alive", None, 2),
            ("p3", "s5", "Dead", 200, 1),
            ("p3", "s6", None, 300, 2),
            ("p3", "s7", "Alive", 250, 3),
        ],
    )
    assert got == {"p1": "s1", "p2": "s3"}


def test_inconsistent_kept_when_flag_off(spark):
    got = _pick(
        spark,
        [("p1", "s1", "Dead", 200, 1), ("p1", "s2", "Alive", 300, 2)],
        drop_inconsistent=False,
    )
    assert got == {"p1": "s1"}


FU_SCHEMA = (
    "participant_id string, form_id string, status string, "
    "begin_date string, source_file_row_num long"
)


def _pick_fu(spark, rows):
    df = spark.createDataFrame(rows, FU_SCHEMA)
    return {
        r["participant_id"]: r["form_id"]
        for r in primary_follow_up(df).collect()
    }


def test_earliest_dead_wins(spark):
    got = _pick_fu(
        spark,
        [
            ("p1", "f1", "Dead", "2020-05", 1),
            ("p1", "f2", "Dead", "2020-01", 2),  # earlier date
            ("p1", "f3", "Alive", "2021-01", 3),
        ],
    )
    assert got == {"p1": "f2"}


def test_latest_alive_when_no_dead(spark):
    got = _pick_fu(
        spark,
        [
            ("p1", "f1", "Alive", "2020-01", 1),
            ("p1", "f2", "Alive", "2020-06", 2),
            ("p1", "f3", "Unknown", "2021-01", 3),  # later but not Alive
        ],
    )
    assert got == {"p1": "f2"}


def test_latest_any_fallback(spark):
    got = _pick_fu(
        spark,
        [
            ("p1", "f1", "Unknown", "2020-01", 1),
            ("p1", "f2", "Lost", "2020-06", 2),
        ],
    )
    assert got == {"p1": "f2"}


def test_range_join_matches_nested_loop_and_guards(spark):
    from pyspark.sql import functions as F

    from c3dc_etl_spark.operators.ranges import range_join

    intervals = spark.createDataFrame(
        [(1, 100, 250), (2, 240, 260), (3, 900, 900)],
        "iid long, s long, e long",
    )
    probes = spark.createDataFrame(
        [(10, 100), (11, 250), (12, 255), (13, 899), (14, 900), (15, 901)],
        "pid long, ts long",
    )
    got = {
        (r["iid"], r["pid"])
        for r in range_join(
            intervals, probes, start_col="s", end_col="e", ts_col="ts", bucket=50
        ).collect()
    }
    want = {
        (r["iid"], r["pid"])
        for r in intervals.join(
            probes, (F.col("ts") >= F.col("s")) & (F.col("ts") <= F.col("e"))
        ).collect()
    }
    assert got == want
    assert (1, 10) in got and (1, 11) in got and (3, 14) in got  # inclusive ends
    # duplicate-free even when interval and probe share several buckets
    rows = range_join(
        intervals, probes, start_col="s", end_col="e", ts_col="ts", bucket=7
    ).collect()
    assert len(rows) == len({(r["iid"], r["pid"]) for r in rows})
    # the fan-out guard trips on a pathological interval
    import pytest

    wide = spark.createDataFrame([(9, 0, 10**9)], "iid long, s long, e long")
    with pytest.raises(Exception, match="spans more than"):
        range_join(
            wide, probes, start_col="s", end_col="e", ts_col="ts", bucket=10,
            max_buckets_per_interval=100,
        ).collect()
    # a REVERSED interval must trip the guard too, not fan out a
    # descending sequence (ADVICE r3)
    rev = spark.createDataFrame([(8, 500, 100)], "iid long, s long, e long")
    with pytest.raises(Exception, match="reversed"):
        range_join(
            rev, probes, start_col="s", end_col="e", ts_col="ts", bucket=10,
            max_buckets_per_interval=100,
        ).collect()


def test_interval_overlap_join_matches_nested_loop(spark):
    import pytest
    from pyspark.sql import functions as F

    from c3dc_etl_spark.operators.ranges import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 100, 250), (2, 240, 260), (3, 900, 900), (4, 0, 50)],
        "lid long, ls long, le long",
    )
    right = spark.createDataFrame(
        [(10, 250, 300), (11, 261, 400), (12, 890, 905), (13, 49, 60),
         (14, 900, 900), (15, 51, 99)],
        "rid long, rs long, re long",
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right,
            l_start="ls", l_end="le", r_start="rs", r_end="re", bucket=37,
        ).collect()
    )
    want = sorted(
        (r["lid"], r["rid"])
        for r in left.join(
            right, (F.col("ls") <= F.col("re")) & (F.col("rs") <= F.col("le"))
        ).collect()
    )
    assert got == want
    assert (3, 14) in got  # point-interval x point-interval, inclusive
    assert (4, 13) in got  # touching at the inclusive boundary (49 <= 50)
    assert (4, 15) not in got  # adjacent but disjoint (51 > 50)
    # exactly-once emission even with many shared buckets (tiny bucket)
    rows = interval_overlap_join(
        left, right,
        l_start="ls", l_end="le", r_start="rs", r_end="re", bucket=3,
    ).collect()
    pairs = [(r["lid"], r["rid"]) for r in rows]
    assert len(pairs) == len(set(pairs)) == len(want)
    # guards: over-long and reversed intervals fail fast on either side
    wide = spark.createDataFrame([(9, 0, 10**9)], "lid long, ls long, le long")
    with pytest.raises(Exception, match="spans more than|reversed"):
        interval_overlap_join(
            wide, right,
            l_start="ls", l_end="le", r_start="rs", r_end="re", bucket=10,
            max_buckets_per_interval=100,
        ).collect()
    rev = spark.createDataFrame([(9, 700, 100)], "rid long, rs long, re long")
    with pytest.raises(Exception, match="reversed"):
        interval_overlap_join(
            left, rev,
            l_start="ls", l_end="le", r_start="rs", r_end="re", bucket=10,
            max_buckets_per_interval=100,
        ).collect()


def test_interval_overlap_join_randomized_vs_nested_loop(spark):
    """Randomized (seeded) equivalence: the bucketized overlap join must
    match the naive nested-loop join on arbitrary interval layouts and
    bucket sizes — exercises bucket-boundary alignment, point
    intervals, long spans, and disjoint clusters."""
    import random

    from pyspark.sql import functions as F

    from c3dc_etl_spark.operators.ranges import interval_overlap_join

    rng = random.Random(4042)
    lrows, rrows = [], []
    for i in range(80):
        s = rng.randrange(0, 1000)
        lrows.append((i, s, s + rng.randrange(0, 60)))
    for i in range(80):
        s = rng.randrange(0, 1000)
        rrows.append((i, s, s + rng.randrange(0, 25)))
    left = spark.createDataFrame(lrows, "lid long, ls long, le long")
    right = spark.createDataFrame(rrows, "rid long, rs long, re long")
    want = sorted(
        (r["lid"], r["rid"])
        for r in left.join(
            right, (F.col("ls") <= F.col("re")) & (F.col("rs") <= F.col("le"))
        ).collect()
    )
    for bucket in (1, 7, 33, 64, 500):
        got = sorted(
            (r["lid"], r["rid"])
            for r in interval_overlap_join(
                left, right,
                l_start="ls", l_end="le", r_start="rs", r_end="re",
                bucket=bucket,
            ).collect()
        )
        assert got == want, f"bucket={bucket}"
