#!/usr/bin/env python3
"""Local approximation of the driver's correctness gate: run every
queries() entry in Spark AND its oracle_sql() in DuckDB at the given sf,
compare row count, column names, and an order-insensitive value hash.

Usage: python scripts/check_oracle.py [sf_dir] [query_name ...]
       python scripts/check_oracle.py --jitter-libm [sf_dir] [query ...]

``--jitter-libm`` (r7 verdict item 8) surfaces KM-class environment
seams locally: for every oracle whose SQL calls a transcendental libm
function (LN/LOG/EXP/POW/trig — NOT SQRT, which IEEE 754 requires to be
correctly rounded and so cannot differ across engines), re-run the
oracle with each libm call's result perturbed by a relative
±k·2^-52 (k = 1, 16, 256, 4096, 65536 ulps) and report the largest k
whose value hash still matches the unperturbed run. A pin whose
headroom is under ~1e3 ulps can flip on a driver whose host libm
disagrees with the JVM's StrictMath in the last ulp — exactly how
survival_kaplan_meier hash-failed two rounds despite passing every
local run. Exit is nonzero if any audited query's headroom < 1024.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def value_hash(rows: list[tuple], columns: list[str]) -> str:
    """Order-insensitive hash: sort columns by name, normalize values to
    strings, sort rows, md5."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        if v is None:
            return "<null>"
        if isinstance(v, bool):
            return str(int(v))
        if isinstance(v, float):
            if v != v:
                return "nan"
            return repr(v)
        return str(v)

    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


import re

_LIBM_RE = re.compile(
    r"(LN|LOG10|LOG2|LOG|EXP|POWER|POW|SINH|COSH|TANH|SIN|COS|TAN"
    r"|ATAN2|ATAN|ASIN|ACOS|CBRT)\s*\(",
    re.I,
)


def _skip_literal(sql: str, i: int) -> int:
    """Given ``sql[i] == "'"``, return the index one past the literal's
    closing quote, treating a doubled quote ('') as an ESCAPED quote
    inside the literal (ADVICE r8 #2: without the one-char peek, a
    literal like 'it''s' desyncs the scanner and the paren balancer)."""
    j = i + 1
    n = len(sql)
    while j < n:
        if sql[j] == "'":
            if j + 1 < n and sql[j + 1] == "'":  # escaped '' stays inside
                j += 2
                continue
            return j + 1
        j += 1
    return n


def jitter_libm_sql(sql: str, rel: float) -> str:
    """Rewrite ``sql`` so every transcendental libm call's result is
    multiplied by ``(1 + rel)`` — simulating an engine whose libm
    differs from the local one by ``rel`` relative error. Handles
    nested calls (arguments are rewritten recursively) and skips
    matches inside single-quoted string literals (including SQL ''
    escapes)."""
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        if sql[i] == "'":  # skip string literal ('' = escaped quote)
            j = _skip_literal(sql, i)
            out.append(sql[i:j])
            i = j
            continue
        m = _LIBM_RE.match(sql, i)
        if m and (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_")):
            j, depth = m.end(), 1
            while j < n and depth:
                if sql[j] == "(":
                    depth += 1
                elif sql[j] == ")":
                    depth -= 1
                elif sql[j] == "'":
                    j = _skip_literal(sql, j) - 1
                j += 1
            inner = jitter_libm_sql(sql[m.end() : j - 1], rel)
            out.append(
                f"({sql[i:m.end()]}{inner}) * (1.0 + ({rel:.17e})))"
            )
            i = j
        else:
            out.append(sql[i])
            i += 1
    return "".join(out)


_JITTER_KS = (1, 16, 256, 4096, 65536)


def jitter_audit(con, oracles: dict[str, str], only: set[str]) -> int:
    """Run the --jitter-libm headroom audit; returns the exit code."""
    audited, weak = [], []
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        if not _LIBM_RE.search(sql):
            continue
        base = con.execute(sql)
        cols = [d[0] for d in base.description]
        h0 = value_hash(base.fetchall(), cols)
        headroom = 0
        for k in _JITTER_KS:
            ok = True
            for sign in (1.0, -1.0):
                jsql = jitter_libm_sql(sql, sign * k * 2.0**-52)
                res = con.execute(jsql)
                if value_hash(res.fetchall(), [d[0] for d in res.description]) != h0:
                    ok = False
                    break
            if not ok:
                break
            headroom = k
        tag = "OK" if headroom >= 1024 else "WEAK"
        if headroom < 1024:
            weak.append(name)
        audited.append((name, headroom))
        print(f"{tag:4s}  {name}: libm pin headroom >= {headroom} ulps")
    print(f"\n{len(audited)} audited, {len(weak)} weak (<1024 ulps)")
    if weak:
        print("weak:", " ".join(weak))
    return 1 if weak else 0


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from c3dc_etl_spark.session import get_spark

    import os

    argv = [a for a in sys.argv[1:] if a != "--jitter-libm"]
    jitter = len(argv) != len(sys.argv) - 1
    # ADVICE r8 #3: `check_oracle.py --jitter-libm <query>` used to
    # consume the query name as a nonexistent sf_dir and audit against
    # missing views. The first positional is an sf_dir only if it IS a
    # directory; otherwise it is a query name and the default dir holds.
    # Fail CLOSED on ambiguity: an arg that LOOKS like a path (has a
    # separator) but is not a directory is a typo'd sf_dir, not a query
    # name — reinterpreting it would green-light an audit of nothing.
    if argv and os.path.isdir(argv[0]):
        sf_dir, only = argv[0], set(argv[1:])
    else:
        if argv and os.sep in argv[0]:
            print(f"error: sf_dir {argv[0]!r} is not a directory")
            return 2
        sf_dir, only = "/root/testdata/sf0.01", set(argv)

    # unknown query names must fail loudly, not filter to an empty run
    # that exits 0 having audited nothing
    from c3dc_etl_spark.suite import REGISTRY

    unknown = only - set(REGISTRY)
    if unknown:
        print(f"error: unknown query name(s): {sorted(unknown)}")
        return 2

    if jitter:
        con = duckdb.connect()
        for t in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings"
        ).split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        return jitter_audit(con, entrymod.oracle_sql(), only)

    spark = get_spark("oracle-check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception:
            print(f"FAIL  {name}: duckdb error")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            sh = value_hash(srows, scols)
            dh = value_hash(drows, dcols)
            if sh != dh:
                problems.append("value-hash mismatch")
                # show a few diffs
                sset = set(
                    "|".join(str(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i]))
                    for r in srows
                )
                dset = set(
                    "|".join(str(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i]))
                    for r in drows
                )
                only_s = list(sset - dset)[:3]
                only_d = list(dset - sset)[:3]
                if only_s:
                    problems.append(f"spark-only: {only_s}")
                if only_d:
                    problems.append(f"duckdb-only: {only_d}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
            failures.append(name)
        else:
            print(f"PASS  {name}: {len(srows)} rows  ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if failures:
        print("failures:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
