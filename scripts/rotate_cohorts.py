#!/usr/bin/env python3
"""Per-round rotation derivations, mechanized (rounds 9-10).

Three cohorts rotate every round; each is DERIVED from committed
artifacts, never hand-curated, and each has a test pinning the result:

1. PRIORITY (driver correctness window): urgency-tier-first, then
   stalest-first within each tier (see ``priority_tiers``): tier 0 =
   never-tested / latest-row-red / live hand-adjudicated seed, tier 1
   = the query's own module (or certified hash) changed since the tree
   its latest driver round tested, tier 2 = only deeper import-closure
   files changed, tier 3 = unchanged. A query whose code or oracle
   changed after the driver last certified it is effectively untested
   regardless of how "fresh" its ledger row looks (r9 verdict "What's
   wrong #2"); ``priority_order()`` computes the list and
   ``__spark_entry__.PRIORITY`` imports it directly — nothing is
   hand-pasted (r9 verdict "What's wrong #1").
2. bench ROTATION (~45/round): never-benched queries — registry minus
   HEADLINE minus every committed BENCH_r* "queries"/"rotation_queries"
   row. Pinned disjoint by tests/test_registry.py.
3. SCALE_ROTATION (~6-10/round): adjudicated-heavy queries without a
   committed factor-5 linearity row — ranked here by their latest
   committed wall time. Contract pinned by
   tests/test_registry.py::test_scale_check_cohort_contract.

Change detection rides QUERY_HASHES.json: ``--snapshot`` (run once per
round, before the final commit) records a content hash per query — the
TRANSITIVE package-import closure of its defining suite module plus
its oracle text. The driver tests exactly that commit, so when the
next CORRECTNESS_r{N} lands, the snapshot's hashes are what round N
certified; the derived ``certified_view()`` overlays those rows and
``changed_queries()`` flags every query whose current hash differs
from its certified one. Rows certified BEFORE the hash ledger existed
bootstrap through git: the query's closure files are blob-compared
against the tree of its latest driver round's commit. Static — no
SparkSession; git is consulted read-only with a seed fallback.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import json
import os
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERY_HASHES_FILE = os.path.join(REPO, "QUERY_HASHES.json")

# Bootstrap seed: queries whose SEMANTICS changed in the named round
# after their then-latest driver-dated row — changes QUERY_HASHES.json
# predates and therefore cannot see. A seed entry is inert once the
# driver certifies the query at a round >= the named round (the round
# comparison below), so entries retire themselves; delete them when
# they do. The round-9 set (linkage re-key, PQ/IVF-PQ rewrite,
# never_blank fan-out, the 12 streaming _run_to_memory re-scopes) all
# drew r9/r10 driver-green rows and retired in round 11. Empty is the
# steady state now that QUERY_HASHES.json certifies every round's
# snapshot — future entries only for semantics changes the hash ledger
# somehow cannot see.
CHANGED_SEED: dict[str, int] = {}


def ledger_latest() -> dict[str, int]:
    """Latest driver round per query from the committed CORRECTNESS_r*
    ledgers (the same derivation tests/test_registry.py pins)."""
    latest: dict[str, int] = {}
    for fname in sorted(os.listdir(REPO)):
        if not (fname.startswith("CORRECTNESS_r") and fname.endswith(".json")):
            continue
        rnd = int(fname[len("CORRECTNESS_r"):-len(".json")])
        with open(os.path.join(REPO, fname)) as fh:
            for k in json.load(fh):
                latest[k] = max(latest.get(k, 0), rnd)
    return latest


def _module_file(modname: str) -> str | None:
    parts = modname.split(".")
    p = os.path.join(REPO, *parts) + ".py"
    if os.path.exists(p):
        return p
    p = os.path.join(REPO, *parts, "__init__.py")
    return p if os.path.exists(p) else None


@functools.lru_cache(maxsize=None)
def _file_digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


@functools.lru_cache(maxsize=None)
def _module_imports(modname: str) -> tuple[str, ...]:
    """Package-internal modules this module imports (absolute imports
    only — the repo convention), resolved to module names with files."""
    f = _module_file(modname)
    if f is None:
        return ()
    found: set[str] = set()
    tree = ast.parse(open(f, "rb").read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            # `from pkg import sub` may name a module, not a symbol
            mods = [node.module] + [
                f"{node.module}.{a.name}" for a in node.names
            ]
        else:
            continue
        for m in mods:
            if m.startswith("c3dc_etl_spark") and _module_file(m):
                found.add(m)
    return tuple(sorted(found))


@functools.lru_cache(maxsize=None)
def _module_closure(modname: str) -> tuple[str, ...]:
    """The TRANSITIVE package-internal import closure of the module's
    file: a query's semantics ride on every module reachable from its
    suite module, and a second-level change (suite -> operator ->
    helper) must flip the hash just as a first-level one does. The
    package is ~80 modules, so the closure is bounded; a shared-core
    edit flagging many queries as changed is honest — the driver has
    not certified any of them under the new code."""
    files: set[str] = set()
    stack = [modname]
    seen: set[str] = set()
    while stack:
        m = stack.pop()
        if m in seen:
            continue
        seen.add(m)
        f = _module_file(m)
        if f is None:
            continue
        files.add(f)
        stack.extend(_module_imports(m))
    return tuple(sorted(files))


def query_hashes() -> dict[str, str]:
    """Per-query content hash: the transitive package-import closure
    of the query function's defining module, plus the oracle SQL. A
    hash change means the driver's last green row no longer certifies
    the code as it sits. Oracles that read committed fixtures embed
    their absolute path; it is hashed relative to the checkout, so the
    same commit gives the same hashes wherever it is checked out."""
    from c3dc_etl_spark.suite import REGISTRY

    out: dict[str, str] = {}
    for name, spec in REGISTRY.items():
        fn = getattr(spec.fn, "__wrapped__", spec.fn)
        h = hashlib.sha256()
        for path in _module_closure(fn.__module__):
            h.update(os.path.relpath(path, REPO).encode())
            h.update(b"\0")
            h.update(_file_digest(path).encode())
            h.update(b"\0")
        h.update((spec.oracle or "").replace(REPO, "<repo>").encode())
        out[name] = h.hexdigest()[:16]
    return out


def _green(row: dict) -> bool:
    """A driver row certifies a query when it errored nowhere and every
    recorded comparison matched (rows-only checks omit hash/schema)."""
    return (
        row.get("err") is None
        and row.get("rows_match") is True
        and row.get("schema_match") is not False
        and row.get("hash_match") is not False
    )


def latest_rows() -> dict[str, dict]:
    """Each query's LATEST driver row (round + the row itself): a red
    latest row must count as needs-re-verification, which the
    round-number-only ledger_latest cannot express."""
    latest: dict[str, dict] = {}
    for fname in sorted(os.listdir(REPO)):
        if not (fname.startswith("CORRECTNESS_r") and fname.endswith(".json")):
            continue
        rnd = int(fname[len("CORRECTNESS_r"):-len(".json")])
        with open(os.path.join(REPO, fname)) as fh:
            for k, row in json.load(fh).items():
                if rnd >= latest.get(k, {}).get("round", -1):
                    latest[k] = {"round": rnd, "row": row}
    return latest


@functools.lru_cache(maxsize=None)
def _driver_commit(round_no: int) -> str | None:
    """The commit whose tree the round-``round_no`` driver tested: the
    newest commit with a 'round {N}:' subject (the driver writes both
    the end-of-round snapshot and the verdict/ledger commit with that
    prefix; either tree carries the identical source)."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "-C", REPO, "log", "--format=%H",
             f"--grep=^round {round_no}:", "-n", "1"],
            capture_output=True, text=True, timeout=30,
        )
    except Exception:
        return None
    sha = out.stdout.strip()
    return sha or None


@functools.lru_cache(maxsize=None)
def _blobs_at(ref: str) -> tuple[tuple[str, str], ...] | None:
    """(relpath, git blob sha) for every tracked file at ``ref``."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "-C", REPO, "ls-tree", "-r", ref],
            capture_output=True, text=True, timeout=60,
        )
    except Exception:
        return None
    if out.returncode != 0:
        return None
    rows = []
    for line in out.stdout.splitlines():
        meta, path = line.split("\t", 1)
        rows.append((path, meta.split()[2]))
    return tuple(rows)


@functools.lru_cache(maxsize=None)
def _current_blob_sha(path: str) -> str:
    """git's blob id for the file as it sits on disk."""
    with open(path, "rb") as fh:
        body = fh.read()
    h = hashlib.sha1()
    h.update(b"blob %d\0" % len(body))
    h.update(body)
    return h.hexdigest()


def _closure_changed_since(modname: str, round_no: int) -> bool | None:
    """Whether any file in the module's import closure differs from the
    tree the round-``round_no`` driver tested — the BOOTSTRAP change
    detector for queries certified before QUERY_HASHES.json existed.
    Purely git-blob-sha comparisons (one ls-tree per round, cached), so
    the derivation is identical on any clone of this history. None =
    git unavailable; the caller falls back to the static seed."""
    sha = _driver_commit(round_no)
    if sha is None:
        return None
    blobs = _blobs_at(sha)
    if blobs is None:
        return None
    at_ref = dict(blobs)
    for path in _module_closure(modname):
        rel = os.path.relpath(path, REPO)
        old = at_ref.get(rel)
        if old is None or old != _current_blob_sha(path):
            return True
    return False


def certified_view() -> dict[str, dict]:
    """name -> {"round": N, "hash": h}: the content hash the driver's
    latest green row actually tested. Derived (never trusted stale)
    from the committed QUERY_HASHES.json plus any CORRECTNESS ledger
    that landed for its snapshot round — so a round-start import sees
    the new driver rows before --snapshot has been re-run."""
    if not os.path.exists(QUERY_HASHES_FILE):
        return {}
    with open(QUERY_HASHES_FILE) as fh:
        data = json.load(fh)
    certified = dict(data.get("certified") or {})
    snap_round = data.get("snapshot_round")
    snap = data.get("snapshot") or {}
    if snap_round is not None:
        cfile = os.path.join(REPO, f"CORRECTNESS_r{snap_round:02d}.json")
        if not os.path.exists(cfile):
            cfile = os.path.join(REPO, f"CORRECTNESS_r{snap_round}.json")
        if os.path.exists(cfile):
            with open(cfile) as fh:
                for name, row in json.load(fh).items():
                    if _green(row) and name in snap:
                        certified[name] = {
                            "round": snap_round, "hash": snap[name]
                        }
    return certified


def changed_queries(
    latest: dict[str, int] | None = None,
    current: dict[str, str] | None = None,
    rows: dict[str, dict] | None = None,
) -> set[str]:
    """Queries the driver has not certified under their CURRENT
    semantics, resolved in precedence order per query:

    1. never driver-tested -> changed;
    2. latest driver row is RED -> changed (a failing query must lead
       the window, not trail it because its round number looks fresh);
    3. a certified hash exists for the latest round -> changed iff the
       current hash differs;
    4. bootstrap (rows certified before QUERY_HASHES.json existed):
       changed iff any file in the query's import closure differs from
       the tree the latest driver round actually tested (git blob-sha
       comparison — identical on every clone of this history);
    5. git unavailable -> the static CHANGED_SEED.
    """
    derive_rows = latest is None and rows is None
    if derive_rows:
        rows = latest_rows()
        latest = {k: v["round"] for k, v in rows.items()}
    latest = ledger_latest() if latest is None else latest
    current = query_hashes() if current is None else current
    certified = certified_view()
    changed: set[str] = set()
    for name, h in current.items():
        lr = latest.get(name, 0)
        if lr == 0:
            changed.add(name)
            continue
        latest_row = (rows or {}).get(name)
        if (
            latest_row is not None
            and latest_row.get("round") == lr
            and not _green(latest_row.get("row") or {})
        ):
            changed.add(name)
            continue
        cert = certified.get(name)
        if cert is not None and cert.get("round", 0) >= lr:
            if cert.get("hash") != h:
                changed.add(name)
            continue
        boot = _bootstrap_changed(name, lr)
        if boot is None:
            if CHANGED_SEED.get(name, 0) > lr:
                changed.add(name)
        elif boot:
            changed.add(name)
    return changed


def _bootstrap_changed(name: str, lr: int) -> bool | None:
    """Git-blob bootstrap for queries without a certified hash row:
    compare the query's CURRENT import-closure files against the tree
    driver round ``lr`` tested. None when the query is unknown or git
    cannot answer (caller falls back to the static seed)."""
    try:
        from c3dc_etl_spark.suite import REGISTRY
    except Exception:  # pragma: no cover
        return None
    spec = REGISTRY.get(name)
    if spec is None:
        return None
    fn = getattr(spec.fn, "__wrapped__", spec.fn)
    return _closure_changed_since(fn.__module__, lr)


def priority_tiers() -> dict[str, int]:
    """Verification-urgency tier per query (lower = sooner):

    0. never driver-tested, the latest driver row is RED, or a
       hand-adjudicated CHANGED_SEED entry is still live — the named
       set an earlier verdict requires green driver rows for MUST make
       the next window, ahead of mechanically-inferred changes;
    1. DIRECT semantic change: the query's own defining module (or a
       certified-hash mismatch) changed since the tree its latest
       driver round tested — the r9-verdict class;
    2. INDIRECT change: only deeper import-closure files changed (a
       shared operator/helper edit; honest but lower-signal, since
       file-level hashing cannot see whether the edit touches this
       query's path);
    3. unchanged since its latest certification.
    """
    from c3dc_etl_spark.suite import REGISTRY

    rows = latest_rows()
    latest = {k: v["round"] for k, v in rows.items()}
    current = query_hashes()
    certified = certified_view()
    changed = changed_queries(latest, current, rows)
    tiers: dict[str, int] = {}
    for name in REGISTRY:
        lr = latest.get(name, 0)
        latest_row = rows.get(name)
        if (
            lr == 0
            or (latest_row is not None and not _green(latest_row["row"]))
            or CHANGED_SEED.get(name, 0) > lr
        ):
            tiers[name] = 0
            continue
        if name not in changed:
            tiers[name] = 3
            continue
        cert = certified.get(name)
        hash_mismatch = (
            cert is not None
            and cert.get("round", 0) >= lr
            and cert.get("hash") != current.get(name)
        )
        spec = REGISTRY[name]
        fn = getattr(spec.fn, "__wrapped__", spec.fn)
        own = _module_file(fn.__module__)
        direct = False
        if own is not None:
            sha = _driver_commit(lr)
            blobs = _blobs_at(sha) if sha else None
            if blobs is not None:
                rel = os.path.relpath(own, REPO)
                old = dict(blobs).get(rel)
                direct = old is None or old != _current_blob_sha(own)
        if hash_mismatch or direct:
            tiers[name] = 1
        else:
            tiers[name] = 2
    return tiers


def priority_order() -> list[str]:
    """The full PRIORITY list __spark_entry__ imports: urgency tier
    (never-tested/red, direct change, indirect change, unchanged),
    stalest driver round first within each tier, names as the
    tiebreak."""
    from c3dc_etl_spark.suite import REGISTRY

    latest = ledger_latest()
    tiers = priority_tiers()
    return sorted(
        REGISTRY,
        key=lambda n: (tiers.get(n, 0), latest.get(n, 0), n),
    )


def snapshot_hashes() -> None:
    """--snapshot: persist the derived certified view plus a fresh
    per-query hash snapshot stamped with the round the NEXT driver run
    will test (max committed CORRECTNESS round + 1). Run once per
    round before the final commit; idempotent within a round."""
    certified = certified_view()
    rounds = [
        int(f[len("CORRECTNESS_r"):-len(".json")])
        for f in os.listdir(REPO)
        if f.startswith("CORRECTNESS_r") and f.endswith(".json")
    ]
    data = {
        "snapshot_round": (max(rounds) if rounds else 0) + 1,
        "snapshot": query_hashes(),
        "certified": certified,
    }
    with open(QUERY_HASHES_FILE, "w") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(
        f"# QUERY_HASHES.json: snapshot for driver round "
        f"{data['snapshot_round']}, {len(certified)} certified rows"
    )


def benched_and_times() -> tuple[set[str], dict[str, float]]:
    """Union of every committed BENCH ledger row, plus each query's
    latest committed wall time (BENCH_r* stdout maps + BENCH_DETAIL)."""
    import bench

    seen: set[str] = set(bench.HEADLINE)
    times: dict[str, float] = {}
    for fname in sorted(os.listdir(REPO)):
        if not (fname.startswith("BENCH_r") and fname.endswith(".json")):
            continue
        try:
            with open(os.path.join(REPO, fname)) as fh:
                rec = json.load(fh)
        except ValueError:
            continue
        # driver records wrap the bench stdout JSON under "parsed"
        for src in (rec, rec.get("parsed") or {}):
            if not isinstance(src, dict):
                continue
            for key in ("queries", "rotation_queries"):
                for name, t in (src.get(key) or {}).items():
                    if name == "_truncated":
                        continue
                    seen.add(name)
                    if isinstance(t, (int, float)):
                        times[name] = float(t)
    detail = os.path.join(REPO, "BENCH_DETAIL.json")
    if os.path.exists(detail):
        with open(detail) as fh:
            rec = json.load(fh)
        for key in ("queries", "rotation"):
            for name, t in (rec.get(key) or {}).items():
                seen.add(name)
                times[name] = float(t)
    return seen, times


def scale_covered() -> set[str]:
    """Queries with a committed factor-5 linearity row: the CUMULATIVE
    SCALE_LEDGER.json (bench.py merges every run's rows into it, so
    prior rounds' rotated-out coverage is never forgotten), plus the
    current cohorts and BENCH_DETAIL as belt-and-braces."""
    import bench

    covered = set(bench.SCALE_CORE) | set(bench.SCALE_ROTATION)
    ledger = os.path.join(REPO, "SCALE_LEDGER.json")
    if os.path.exists(ledger):
        with open(ledger) as fh:
            covered |= set(json.load(fh))
    detail = os.path.join(REPO, "BENCH_DETAIL.json")
    if os.path.exists(detail):
        with open(detail) as fh:
            sc = json.load(fh).get("scale_check") or {}
        covered |= set(sc.get("linearity") or {})
    return covered


def main() -> int:
    import bench

    from c3dc_etl_spark.suite import REGISTRY

    latest = ledger_latest()
    missing = sorted(n for n in REGISTRY if n not in latest)
    if missing:
        print(f"# WARNING: {len(missing)} registry queries have no"
              f" driver-dated row: {missing}")
    # no-args call derives latest_rows() itself, so the informational
    # print applies the SAME red-latest-row rule the gate's
    # priority_order() uses (ADVICE r10: passing only `latest` dropped
    # that rule and the printed bucket could understate the gate)
    changed = changed_queries()
    order = priority_order()
    print("# --- PRIORITY (changed-first, then ledger stalest-first;"
          " __spark_entry__.py imports priority_order() directly —"
          " this print is informational) ---")
    print(f"# changed-since-driver-date bucket ({len(changed)}):"
          f" {' '.join(sorted(changed)) or '(empty)'}")
    print("PRIORITY = [")
    for n in order:
        print(f'    "{n}",')
    print("]")

    seen, times = benched_and_times()
    # builder-run sweep rows (scripts/bench_sweep.py) RANK the
    # scale-rotation candidates below but never mark a query "benched":
    # the driver-facing ROTATION keeps marching through all 300 so each
    # eventually gets a driver-recorded row
    sweep = os.path.join(REPO, "BENCH_LEDGER.json")
    if os.path.exists(sweep):
        with open(sweep) as fh:
            for name, row in json.load(fh).items():
                if "wall_s" in row:
                    times.setdefault(name, float(row["wall_s"]))
    never = sorted(n for n in REGISTRY if n not in seen)
    print(f"\n# --- never-benched ({len(never)} left; pick the next"
          " ~45 for ROTATION) ---")
    bytag = defaultdict(list)
    for n in never:
        tags = REGISTRY[n].tags
        bytag[tags[0] if tags else "?"].append(n)
    for t in sorted(bytag):
        print(f"# {t:14s} ({len(bytag[t])}): {' '.join(bytag[t])}")

    covered = scale_covered()
    heavy = sorted(
        ((t, n) for n, t in times.items()
         if n in REGISTRY and n not in covered),
        reverse=True,
    )
    print("\n# --- scale-rotation candidates (heaviest benched queries"
          " without a committed linearity row) ---")
    for t, n in heavy[:15]:
        print(f"# {t:8.2f}s  {n}")
    print(f"\n# bench ledger: {len(seen & set(REGISTRY))}/"
          f"{len(REGISTRY)} benched; scale rows: "
          f"{len(covered & set(REGISTRY))}")
    return 0


if __name__ == "__main__":
    if "--snapshot" in sys.argv[1:]:
        snapshot_hashes()
        raise SystemExit(0)
    raise SystemExit(main())
