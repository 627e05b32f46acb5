#!/usr/bin/env python3
"""Interleaved A/B of result-identical query variants.

Each variant is a ``module:function`` path to ``fn(spark, sf_dir) ->
DataFrame`` (a registry query's module function works as is). The first
variant is A; every other one is compared against it.

1. Row check: each variant is collected once and its sorted rows must
   equal A's; on a mismatch the script exits 1 before any timing. The
   check also warms the JVM and the file caches for every variant.
2. Timing: ``--pairs`` rounds, each running every variant once, the
   order rotating per round so no variant always goes first. A run is
   plan build plus a noop-sink write (every row computed, nothing
   collected to the driver); intermediates a variant checkpoints are
   built inside the run and freed with its frame. Its Spark jobs are
   counted from a job group used for that run only.

Printed: each variant's walls, median and per-run job counts; for each
challenger B, its wins over A, the median gap, A's IQR and whether the
gain rule holds: at least ten pairs, B faster in at least nine tenths
of them (ties count for neither), and a median gap larger than A's IQR.

Usage:
  python scripts/ab.py --sf SF_DIR [--pairs N] MOD:FN MOD:FN [MOD:FN ...]
  python scripts/ab.py --sf testdata/sf0.1 --pairs 10 \\
      old_shape:fn c3dc_etl_spark.suite.dedup_ops:minhash_estimation_error

Modules resolve from the repo root and the current directory.
"""

from __future__ import annotations

import argparse
import importlib
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _resolve(path: str):
    mod, _, fn = path.partition(":")
    if not fn:
        raise SystemExit(f"variant {path!r} is not module:function")
    return getattr(importlib.import_module(mod), fn)


def _sorted_rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def _timed_run(spark, fn, sf_dir: str, group: str) -> tuple[float, int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return wall, len(sc.statusTracker().getJobIdsForGroup(group))


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", required=True, help="generated testdata dir")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("variants", nargs="+", metavar="MOD:FN")
    args = ap.parse_args(argv)
    if len(args.variants) < 2:
        ap.error("need at least two variants")
    for p in (REPO, os.getcwd()):
        if p not in sys.path:
            sys.path.insert(0, p)
    fns = [_resolve(v) for v in args.variants]

    if spark is None:
        from c3dc_etl_spark.session import get_spark

        spark = get_spark("ab")

    base_df = fns[0](spark, args.sf)
    base_cols, base = base_df.columns, _sorted_rows(base_df)
    for name, fn in zip(args.variants[1:], fns[1:]):
        df = fn(spark, args.sf)
        cols, rows = df.columns, _sorted_rows(df)
        if cols != base_cols or rows != base:
            print(
                f"MISMATCH {name}: {len(rows)} rows {cols} vs "
                f"{args.variants[0]}: {len(base)} rows {base_cols}",
                file=sys.stderr,
            )
            return 1
    print(f"rows identical: {len(base)} rows x {len(args.variants)} variants")

    walls: list[list[float]] = [[] for _ in fns]
    jobs: list[list[int]] = [[] for _ in fns]
    for i in range(args.pairs):
        for k in range(len(fns)):
            j = (i + k) % len(fns)
            w, n = _timed_run(spark, fns[j], args.sf, f"ab-{i}-{j}")
            walls[j].append(w)
            jobs[j].append(n)

    for name, ws, js in zip(args.variants, walls, jobs):
        print(
            f"{name}: walls {[round(w, 2) for w in ws]} "
            f"median {statistics.median(ws):.2f}s jobs {js}"
        )
    a = walls[0]
    for name, b in zip(args.variants[1:], walls[1:]):
        wins = sum(wb < wa for wa, wb in zip(a, b))
        gap = statistics.median(a) - statistics.median(b)
        iqr = _iqr(a)
        holds = len(a) >= 10 and wins * 10 >= 9 * len(a) and gap > iqr
        print(
            f"{name} vs {args.variants[0]}: wins {wins}/{len(a)}, "
            f"median gap {gap:.2f}s, A IQR {iqr:.2f}s, "
            f"gain rule {'holds' if holds else 'fails'}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
