#!/usr/bin/env python3
"""Builder-run bench/scale sweep over registry queries (round 9).

The driver's per-round bench covers ~45 rotation queries, so a slow or
super-linear query can hide for rounds before its cohort comes up. This
sweep is the early-warning ledger: it times ANY set of registry queries
NOW, at the driver's scale and measurement discipline (one untimed
warm-up pass, then a timed warm collect), and records the results in a
CUMULATIVE ``BENCH_LEDGER.json`` beside this repo's other ledgers.

Provenance is explicit: these rows are BUILDER-run, not driver-run —
``scripts/rotate_cohorts.py`` uses them only to RANK scale-rotation
candidates (heaviest-first), never to mark a query "benched"; the
driver-facing bench ROTATION keeps marching through all 300 queries at
~45/round so every query eventually gets a driver-recorded row.

``--scale`` runs the committed factor-5 linearity probe (same x5
corpus, same Arrow-materialization ratio as bench.py's scale_check) for
the named queries and merges the rows into the cumulative
``SCALE_LEDGER.json`` — scale_check rows are builder-run by design, so
these ARE first-class coverage.

Usage (repo root):
  python3 scripts/bench_sweep.py                    # all never-swept queries
  python3 scripts/bench_sweep.py name [name ...]    # just these
  python3 scripts/bench_sweep.py --scale name [...] # factor-5 probes
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BENCH_LEDGER = os.path.join(REPO, "BENCH_LEDGER.json")
SCALE_LEDGER = os.path.join(REPO, "SCALE_LEDGER.json")


def _load(path: str) -> dict:
    if os.path.exists(path):
        try:
            with open(path) as fh:
                return json.load(fh)
        except ValueError:
            return {}
    return {}


def _dump(path: str, obj: dict) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main() -> int:
    argv = sys.argv[1:]
    scale_mode = "--scale" in argv
    names = [a for a in argv if not a.startswith("--")]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    import bench
    import __spark_entry__ as entrymod

    from c3dc_etl_spark.session import get_spark

    spark = get_spark("bench-sweep")
    qs = entrymod.queries()

    unknown = [n for n in names if n not in qs and n not in bench.CUSTOM_SCALE]
    if unknown:
        raise SystemExit(f"not in the registry: {unknown}")

    # JVM + parquet-footer warm-up, uncounted (same as bench.py)
    qs["q1_pricing_summary"](spark, sf_dir).collect()

    if scale_mode:
        if not names:
            raise SystemExit("--scale needs explicit query names")
        factor = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "5"))
        scale_dir = os.path.join(REPO, ".scale_bench", f"x{factor}")
        os.makedirs(scale_dir, exist_ok=True)
        bench._ensure_scaled(spark, sf_dir, scale_dir, factor)
        # probe-context reducer sizing, same as bench.py scale_check:
        # both sides of the ratio get the bytes-aware shuffle width a
        # real cluster gives a scaled corpus; session-wide the knob
        # costs +40-150% on iterative queries in local mode (r9 A/B)
        from c3dc_etl_spark.session import default_parallelism

        _ipn_key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        _ipn_prev = spark.conf.get(_ipn_key, None)
        spark.conf.set(_ipn_key, str(8 * default_parallelism()))
        try:
            ledger = _load(SCALE_LEDGER)
            failed: list[str] = []
            for name in names:
                fn = bench.CUSTOM_SCALE.get(name, qs.get(name))
                try:
                    # untimed base warm-up: unlike bench.py's scale_check
                    # (which runs after the whole hot headline suite), a
                    # sweep probe may be the session's first execution of
                    # this plan — a JIT-cold base inflates the denominator
                    # and understates linearity
                    fn(spark, sf_dir).toArrow()
                    t0 = time.perf_counter()
                    fn(spark, sf_dir).toArrow()
                    base = round(time.perf_counter() - t0, 3)
                    t0 = time.perf_counter()
                    fn(spark, scale_dir).toArrow()
                    scaled = round(time.perf_counter() - t0, 3)
                except Exception as exc:  # report + continue; never a
                    # partial ledger row (test_registry pins row shape)
                    failed.append(name)
                    print(f"# scale FAILED {name}: {exc}", file=sys.stderr)
                    continue
                lin = round(scaled / (factor * base), 3) if base else None
                print(f"# scale x{factor} {name}: base {base:.3f}s ->"
                      f" {scaled:.3f}s  linearity {lin}", file=sys.stderr)
                row = {
                    "linearity": lin,
                    "factor": factor,
                    "base_s": base,
                    "scaled_s": scaled,
                }
                if factor == 5:
                    # the standard round-comparable row (keep any
                    # extrapolation sub-rows already attached)
                    extras = {
                        k: v for k, v in ledger.get(name, {}).items()
                        if k.startswith("x") and k[1:].isdigit()
                    }
                    ledger[name] = {**row, **extras}
                else:
                    # extrapolation probe (r10 verdict item 4): nest
                    # under x{factor} so the factor-5 row — the one the
                    # cohort tests and round comparisons key on — is
                    # never clobbered
                    ledger.setdefault(name, {})[f"x{factor}"] = row
                _dump(SCALE_LEDGER, ledger)
                # heap hygiene between x5 pairs, outside every timed window
                spark.sparkContext._jvm.System.gc()
        finally:
            # the process exits right after, but restore anyway so a
            # future caller embedding this loop cannot lose its own
            # deliberate setting to a blind unset
            if _ipn_prev is None:
                spark.conf.unset(_ipn_key)
            else:
                spark.conf.set(_ipn_key, _ipn_prev)
        if failed:
            print(f"# scale probes failed: {failed}", file=sys.stderr)
            return 1
        return 0

    ledger = _load(BENCH_LEDGER)
    if "--all" in argv:
        names = sorted(qs)  # full refresh, e.g. after a conf change
    elif not names:
        names = sorted(n for n in qs if n not in ledger)
    print(f"# sweeping {len(names)} queries at {sf_dir}", file=sys.stderr)
    for i, name in enumerate(names):
        fn = qs[name]
        try:
            fn(spark, sf_dir).toArrow()  # untimed warm-up
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            dt = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # record, keep sweeping
            ledger[name] = {"error": f"{type(exc).__name__}: {exc}"[:300],
                            "sf": sf, "source": "builder-sweep"}
            _dump(BENCH_LEDGER, ledger)
            print(f"# {name}: ERROR {exc}", file=sys.stderr)
            continue
        ledger[name] = {"wall_s": dt, "sf": sf, "mode": "warm-collect",
                        "source": "builder-sweep"}
        _dump(BENCH_LEDGER, ledger)
        print(f"# [{i + 1}/{len(names)}] {name}: {dt:.3f}s", file=sys.stderr)
        if (i + 1) % 25 == 0:
            spark.sparkContext._jvm.System.gc()
    slow = sorted(((v["wall_s"], k) for k, v in ledger.items()
                   if "wall_s" in v), reverse=True)[:15]
    print("# slowest swept:", file=sys.stderr)
    for t, n in slow:
        print(f"#   {t:8.2f}s  {n}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
