"""Distributed exact selection (k-th order statistic) by iterated
histogram refinement.

The r1-r8 selection queries (exact median, weighted median, winsorize
cut points) used value-domain BISECTION: one count-below aggregate per
round, ~log2(range) ≈ 25-35 sequential Spark jobs. Each job is cheap,
but job-launch latency dominates: at sf0.1 the winsorize pair of
searches cost ~50 jobs ≈ 5-6 s of round trips over a cached 600k-row
column.

Histogram refinement keeps the same exactness and scale contract —
never a global sort, never a single task holding the data, driver
traffic bounded per round — but narrows by a factor of ``bins`` (not 2)
per job: one partial-agg histogram of at most ``bins`` groups, walk the
cumulative counts on the driver (<= ``bins`` rows, ~16 KB), recurse
into the bucket containing the target rank. ceil(log_bins(range))
rounds total — 3 jobs for a 10^7-wide integer domain at bins=1024
instead of ~25.

At 100 TB the shape is unchanged: each round is one map-side-combined
aggregate over the checkpointed column (shuffle = n_partitions x bins
partial rows), and rounds are O(log range) regardless of row count.

Reference parity note: the reference engine exposes exact quantiles via
sort-based selection (SURVEY.md section 2 V-group); this operator is the
scale-path equivalent used by exact_median_selection,
weighted_median_selection, and feature_winsorize_clip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["select_kth"]


def select_kth(
    df: DataFrame,
    value_col: str,
    k: int,
    lo: int,
    hi: int,
    *,
    weight_col: str | None = None,
    bins: int = 1024,
) -> int:
    """Smallest integer v in [lo, hi] with cumulative weight of rows
    where ``value_col <= v`` at least ``k`` (1-indexed rank; weight 1
    per row unless ``weight_col`` names a non-negative integral
    column). ``[lo, hi]`` must bracket every value of ``value_col``,
    ``1 <= k <= total weight``, and ``value_col`` / ``weight_col`` must
    be non-null on every row — ranks are over a total order, which a
    null has no place in; a null raises instead of silently landing in
    a phantom bucket. The standard order-statistic contract the
    bisection form had.

    ``df`` should be checkpointed by the caller: every round scans it once.
    """
    if k < 1:
        raise ValueError(f"rank k must be >= 1, got {k}")
    if lo > hi:
        raise ValueError(f"empty bracket [{lo}, {hi}]")
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    c = F.col(value_col)
    wt = F.col(weight_col) if weight_col else F.lit(1)
    first = True
    while lo < hi:
        span = hi - lo + 1
        width = -(-span // bins)  # ceil: last bucket may be short
        # one job: histogram of the current bracket. Integer `div`,
        # never `/` (bigint / routes via double). The FIRST round scans
        # unfiltered with sentinel buckets for out-of-bracket values —
        # ranks are global, so a non-covering bracket silently shifts
        # the result (the misuse the old count-below bisection happened
        # to tolerate); it must raise, and the unfiltered scan costs
        # nothing extra. Later rounds filter to the proven bracket.
        bin_expr = F.expr(f"(({value_col}) - {lo}) div {width}")
        if first:
            binned = df.groupBy(
                F.when(c < F.lit(lo), F.lit(-1))
                .when(c > F.lit(hi), F.lit(bins))
                .otherwise(bin_expr)
                .alias("__bin")
            )
        else:
            binned = df.filter(
                (c >= F.lit(lo)) & (c <= F.lit(hi))
            ).groupBy(bin_expr.alias("__bin"))
        # nulls fall through every when() to a null __bin, and F.sum
        # silently DROPS null weights (a bucket mixing null and
        # non-null weights would under-count, shifting every later
        # rank) — count them explicitly and surface the contract
        # violation instead of TypeError inside sorted() or a silently
        # wrong answer. The count rides the same single job; later
        # rounds scan a value-filtered subset, so the FIRST (full-scan)
        # round's check covers every row.
        aggs = [F.sum(wt).alias("__w")]
        if weight_col and first:
            aggs.append(
                F.count(F.when(F.col(weight_col).isNull(), 1)).alias("__wn")
            )
        rows = binned.agg(*aggs).collect()
        if any(r["__bin"] is None for r in rows):
            raise ValueError(
                f"{value_col!r} contains nulls — select_kth ranks "
                "require non-null values"
            )
        if weight_col and first and any(r["__wn"] for r in rows):
            raise ValueError(
                f"{weight_col!r} contains nulls — select_kth weights "
                "must be non-null"
            )
        if any(r["__w"] is None for r in rows):
            raise ValueError(
                f"{weight_col!r} is null across an entire bucket — "
                "select_kth weights must be non-null"
            )
        hist = sorted((r["__bin"], int(r["__w"])) for r in rows)
        if first:
            if any(b in (-1, bins) for b, _ in hist):
                raise ValueError(
                    f"[{lo}, {hi}] does not bracket every {value_col!r} "
                    "value — select_kth ranks are global"
                )
            first = False
        cum = 0
        for b, w in hist:
            if cum + w >= k:
                k -= cum  # ranks below this bucket are spent
                lo = lo + b * width
                hi = min(hi, lo + width - 1)
                break
            cum += w
        else:
            # no break: k was never decremented on this path, so the
            # rank relative to the current bracket is just k
            raise ValueError(
                f"rank {k} exceeds bracket weight {cum} — "
                f"[lo, hi] does not cover the data or k > total weight"
            )
    return lo
