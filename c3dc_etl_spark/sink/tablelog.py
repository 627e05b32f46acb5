"""Minimal transactional table format over parquet: a versioned commit
log with snapshot-isolated reads, optimistic-concurrency commits, time
travel, and a retention-aware vacuum — the Delta/Iceberg-class protocol
core, pure stdlib (same vendoring move as ``sources/xlsx_lite.py``).

Why the directory-swap sinks (``sink/publish.py``) aren't enough: a
swap is correct for ONE writer and readers that tolerate a loud failure
window. With a compactor and a partition backfill running
beside long queries at 100 TB, readers need a STABLE view while files
are rewritten underneath them. The table-format answer, implemented
here:

- **Data files are immutable.** Writers only ever ADD new uniquely-named
  parquet files; logical deletes are manifest entries ("remove"), never
  unlinks. A reader that has resolved its snapshot's file list is
  untouched by any later commit — that IS snapshot isolation, no locks.
- **A commit is one atomic file creation.** Version N's manifest is
  materialized as ``_log/<N zero-padded>.json`` via write-temp +
  ``os.link`` (hard-link creation is atomic and fails if the name
  exists — the CAS). Two concurrent writers racing to version N: one
  wins, the other sees ``EEXIST``, re-reads the log, revalidates, and
  retries at N+1 — optimistic concurrency exactly as Delta's
  ``_delta_log`` protocol (Armbrust et al., VLDB 2020).
- **Conflict detection on retry.** An append commutes with anything and
  retries blindly. A remove-carrying commit (compaction, overwrite)
  revalidates that its removed files are still live at the new head; if
  a racing commit already removed one, the retry raises
  ``CommitConflict`` instead of resurrecting/double-removing files.
- **Time travel** = replay the manifests up to version V. Version N-1
  stays readable (bit-identical) after any compaction/overwrite until
  ``vacuum`` drops files unreferenced by the retained versions.
- **Crash safety.** A writer dying before its commit leaves orphan data
  files (never visible to readers — no manifest references them) and
  dot-prefixed manifest temps; both are swept by ``vacuum``. A writer
  dying after the link is a COMPLETE commit. There is no intermediate.
- **Per-file column stats** (min/max/rows on a designated key column,
  computed in ONE Spark job over the landed files) ride in the commit
  manifest, exactly like Delta's add-file stats / Iceberg's manifest
  entries. They serve two scale jobs: ``read`` with a key predicate
  opens only the files whose [min, max] envelope intersects it (file
  skipping — the manifest-level complement of parquet row-group
  pruning), and ``merge_upsert`` rewrites ONLY the files whose envelope
  contains a changed key (copy-on-write MERGE: at 100 TB a CDC batch
  touching 0.1 % of keys must not rewrite the other 99.9 % of files).
- **Checkpoint manifests.** Every ``checkpoint_interval`` commits the
  full live state (files + stats) lands as ``<v>.checkpoint.json``;
  replay starts from the newest checkpoint at-or-below the requested
  version, so snapshot resolution is O(tail), not O(all commits) — the
  same reason Delta checkpoints its log into parquet.

Scale notes: the log is O(commits) tiny JSON files and every read's
planning cost is one directory listing + manifest replay (checkpointable
at 10x more commits than any ETL round produces); data-file IO is
exactly the snapshot's file list, so partition/file pruning still comes
from parquet footers. On an object store without atomic link, the CAS
rename needs a coordination primitive (DynamoDB in Delta's S3 commit
service) — out of scope for the local stand-in, same caveat documented
in sink/publish.py.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from c3dc_etl_spark.sizing import (
    broadcast_budget_bytes,
    plan_input_bytes,
    sized_partitions,
)


class CommitConflict(RuntimeError):
    """A concurrent commit removed files this transaction also removes
    (or rewrote the table state it depended on); the caller must re-read
    and re-derive its writes."""


class ConstraintViolation(ValueError):
    """A write batch contains rows violating a table CHECK constraint;
    the write is refused BEFORE any file lands or manifest is written —
    the table is untouched (Delta's ADD CONSTRAINT enforcement)."""


def _fmt_version(v: int) -> str:
    return f"{v:020d}.json"


class TableLog:
    """Handle on one logged table (``table_dir`` holds the data files,
    ``table_dir/_log`` the commit manifests)."""

    MAX_COMMIT_RETRIES = 50
    # Stats-partitioned landings (``_land_files``): at least this many
    # files, each at most about LANDING_FILE_BYTES of input.
    LANDING_FILES = 8
    LANDING_FILE_BYTES = 128 << 20

    def __init__(
        self,
        table_dir: str,
        *,
        stats_col: str | None = None,
        extra_stats_cols: list[str] | None = None,
        bloom_col: str | None = None,
        bloom_bits: int = 8192,
        bloom_hashes: int = 4,
        checkpoint_interval: int = 10,
    ):
        self.table_dir = table_dir.rstrip("/")
        self.log_dir = os.path.join(self.table_dir, "_log")
        self.stats_col = stats_col
        # secondary per-file [min, max] envelopes (no landing-layout
        # role, unlike stats_col): recorded in the same one-job stats
        # pass, consumed by multi-column manifest pruning (read
        # col_between) — the companion of optimize_zorder, whose
        # clustered files get tight envelopes on BOTH dimensions
        self.extra_stats_cols = list(extra_stats_cols or [])
        # point-lookup skipping: per-file Bloom bitsets over this column
        # ride the commit manifest (read key_eq / bloom_pruned_file_count)
        self.bloom_col = bloom_col
        self.bloom_bits = int(bloom_bits)
        self.bloom_hashes = int(bloom_hashes)
        if self.bloom_bits % 4 != 0:
            raise ValueError("bloom_bits must be a multiple of 4 (hex width)")
        self.checkpoint_interval = checkpoint_interval
        os.makedirs(self.log_dir, exist_ok=True)

    # -- log primitives ---------------------------------------------------

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.log_dir):
            if (
                name.endswith(".json")
                and not name.startswith(".")
                and not name.endswith(".checkpoint.json")
            ):
                out.append(int(name[:-5]))
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest(self, v: int) -> dict:
        with open(os.path.join(self.log_dir, _fmt_version(v))) as fh:
            return json.load(fh)

    def _checkpoint_versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.log_dir):
            if name.endswith(".checkpoint.json") and not name.startswith("."):
                out.append(int(name[: -len(".checkpoint.json")]))
        return sorted(out)

    def _checkpoint_for(self, head: int, key: str) -> tuple[dict, int]:
        """(payload, first manifest to replay) of the newest checkpoint
        at-or-below ``head`` that carries ``key``, or ({}, 0) when none
        does: an older checkpoint that predates a fold must not truncate
        the replay."""
        for cp in reversed(
            [c for c in self._checkpoint_versions() if c <= head]
        ):
            path = os.path.join(self.log_dir, f"{cp:020d}.checkpoint.json")
            with open(path) as fh:
                ck = json.load(fh)
            if key in ck:
                return ck, cp + 1
        return {}, 0

    def _replay(self, version: int | None, key: str, from_ck, apply) -> dict:
        """The one checkpoint-tail replay behind every log view
        (snapshot, txns, constraints, the dv maps): start from
        ``from_ck(payload)`` of the newest ``key``-bearing checkpoint
        at-or-below ``version`` (latest if None), then ``apply(state,
        manifest)`` for each manifest of the tail — O(tail), not
        O(all commits)."""
        head = self.latest_version() if version is None else version
        if head is None:
            return {}
        ck, start = self._checkpoint_for(head, key)
        state = from_ck(ck) if ck else {}
        for v in self.versions():
            if start <= v <= head:
                apply(state, self._manifest(v))
        return state

    def snapshot(self, version: int | None = None) -> dict[str, dict]:
        """Replay the log up to ``version`` (latest if None): the
        snapshot's live files mapped to their stats (possibly empty
        dicts), in first-added order."""

        def _apply(live: dict, m: dict) -> None:
            for name in m.get("remove", ()):
                live.pop(name, None)
            for name in m.get("add", ()):
                live[name] = m.get("stats", {}).get(name, {})

        return self._replay(
            version,
            "files",
            lambda ck: {n: ck.get("stats", {}).get(n, {}) for n in ck["files"]},
            _apply,
        )

    def files(self, version: int | None = None) -> list[str]:
        """The snapshot's live data-file names, in first-added order."""
        return list(self.snapshot(version))

    def txns(self, version: int | None = None) -> dict[str, int]:
        """Per-writer-app transaction high-water marks at ``version``
        (latest if None): app id -> highest committed batch id — the
        exactly-once dedup state for idempotent streaming sinks
        (Delta's ``txn`` action). Folded into checkpoints, so resolution
        is O(tail) like snapshot()."""

        def _apply(marks: dict, m: dict) -> None:
            t = m.get("txn")
            if t:
                marks[t["app"]] = max(marks.get(t["app"], -1), t["batch"])

        return self._replay(version, "txns", lambda ck: dict(ck["txns"]), _apply)

    def last_txn(self, app: str) -> int | None:
        """Highest batch id this app has committed, or None."""
        return self.txns().get(app)

    def dv_map(self, version: int | None = None) -> dict[str, str]:
        """Active deletion-vector sidecars at ``version`` (latest if
        None): data-file name -> the dv sidecar parquet recording its
        deleted row positions — Delta's merge-on-read deletion vectors.
        Replay rules: a removed data file drops its entry, a (re)added
        file starts DV-free unless the SAME commit's ``dv`` map says
        otherwise (restore/clone carry history), and a ``dv`` entry
        REPLACES the file's previous vector (each new vector is
        cumulative: old positions union new ones), with ``None``
        clearing it. Folded into checkpoints like txns(), so resolution
        is O(tail)."""
        def _apply(state: dict, m: dict) -> None:
            for f, d in (m.get("dv") or {}).items():
                if d is None:
                    state.pop(f, None)
                else:
                    state[f] = d

        return self._dv_replay(version, "dvs", dict, _apply)

    def _dv_replay(self, version, ck_key: str, from_ck, apply_entry) -> dict:
        """:meth:`_replay` for the dv-layer maps (:meth:`dv_map`,
        :meth:`dv_row_counts`): one skeleton owns the add/remove pop
        rules, so the maps that must mirror each other mirror each
        other STRUCTURALLY. ``from_ck`` builds the initial state from
        the checkpoint's ``ck_key`` payload; ``apply_entry`` applies one
        manifest's dv-layer actions after the pops."""

        def _apply(state: dict, m: dict) -> None:
            for f in (*m.get("remove", ()), *m.get("add", ())):
                state.pop(f, None)
            apply_entry(state, m)

        return self._replay(
            version, ck_key, lambda ck: from_ck(ck[ck_key]), _apply
        )

    def _dv_map_checked(self, base: int | None) -> dict[str, str]:
        """:meth:`dv_map` with the resolution-gap case REFUSED: a base
        view that cannot be resolved without gaps (manifests cleaned
        below a checkpoint that does not carry the dv fold) must not
        silently under-resolve — a rewrite or merge-on-read predicate
        built on it would resurrect deleted rows. The commit-time check
        covers only the RACING case; the base capture needs the same
        guard, and failing at capture is cheaper than after the
        read."""
        if base is None:
            base = self.latest_version()
        if base is not None and not self._view_complete(base, "dvs"):
            raise CommitConflict(
                "cannot resolve the deletion-vector state at version "
                f"{base}: manifests needed for the replay were cleaned "
                "up without a dvs-bearing checkpoint"
            )
        return self.dv_map(base)

    def dv_row_counts(self, version: int | None = None) -> dict[str, int]:
        """data-file name -> TOTAL rows in its active deletion vector,
        for files whose vector-setting commit recorded a ``dv_rows``
        map (every DV write path does; restore/clone propagate what
        they know). Replay rules mirror :meth:`dv_map`
        exactly and the map folds into checkpoints the same way — so
        the smallness bound every DV commit enforces is DRIVER
        arithmetic over this map, not a re-read of every sidecar per
        commit. A file with an active vector but no recorded count
        (legacy commit, partial restore) is simply absent; callers
        fall back to counting that sidecar once."""
        def _apply(state: dict, m: dict) -> None:
            dv = m.get("dv") or {}
            rows = m.get("dv_rows") or {}
            for f, d in dv.items():
                if d is None:
                    state.pop(f, None)
                elif f in rows:
                    state[f] = int(rows[f])
                else:
                    # a dv entry without a recorded count invalidates
                    # any stale count carried for that file
                    state.pop(f, None)

        return self._dv_replay(
            version,
            "dv_row_counts",
            lambda ck: {k: int(v) for k, v in ck.items()},
            _apply,
        )

    def _scan_files(
        self,
        spark: SparkSession,
        names: list[str],
        *,
        merge_schema: bool = False,
        dvm: dict[str, str] | None = None,
    ) -> DataFrame:
        """Scan ``names`` with any active deletion vectors SUBTRACTED —
        the merge-on-read path every internal reader (read, compact,
        merge, zorder) routes through so a DV'd row can never resurrect
        through a rewrite. Identity is (file basename, parquet row
        index) via the ``_metadata`` hidden column — the same row-id
        mechanism Delta DVs ride; positions are stable because data
        files are immutable. The DV side is broadcast: vectors are
        small by contract (CDC/GDPR-scale deletes — a delete touching a
        large row fraction belongs on the copy-on-write ``delete_where``
        or a ``purge_deletes`` rewrite, which this class also offers).
        Filters on data columns still push below the anti-join (its
        keys are the metadata columns only), so file skipping and
        row-group pruning are unaffected."""
        from pyspark.sql import functions as F

        dvm = self._dv_map_checked(None) if dvm is None else dvm
        paths = [os.path.join(self.table_dir, n) for n in names]
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*paths)
        names_set = set(names)
        active = {n: d for n, d in dvm.items() if n in names_set}
        if not active:
            return df
        cols = df.columns
        tagged = df.select(
            "*",
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        )
        dv = self._read_dv_rows(spark, active)
        return tagged.join(
            F.broadcast(
                dv.select(
                    F.col("file").alias("__file"), F.col("pos").alias("__pos")
                )
            ),
            ["__file", "__pos"],
            "left_anti",
        ).select(*cols)

    def _read_dv_rows(
        self, spark: SparkSession, active: dict[str, str]
    ) -> DataFrame:
        """(file, pos) rows of the ACTIVE vectors in ``active`` (data
        file -> sidecar). A sidecar may hold rows for several files and
        may be superseded for SOME of them by a later vector, so rows
        are kept only when (file, source sidecar) is an active pair."""
        from pyspark.sql import functions as F

        paths = sorted(set(active.values()))
        dv = spark.read.parquet(
            *[os.path.join(self.table_dir, p) for p in paths]
        ).select(
            "file",
            "pos",
            F.element_at(
                F.split(F.input_file_name(), "/"), -1
            ).alias("src"),
        )
        pairs = spark.createDataFrame(
            [(f, d) for f, d in active.items()], "file string, src string"
        )
        return dv.join(F.broadcast(pairs), ["file", "src"], "left_semi").select(
            "file", "pos"
        )

    def checkpoint(self, version: int | None = None) -> None:
        """Land a full-state checkpoint manifest for ``version`` (latest
        if None). Idempotent; checkpoints are derived artifacts, so a
        racing duplicate write is byte-identical and harmless."""
        head = self.latest_version() if version is None else version
        if head is None:
            return
        snap = self.snapshot(head)
        payload = json.dumps(
            {
                "files": list(snap),
                "stats": {k: v for k, v in snap.items() if v},
                "txns": self.txns(head),
                # live constraint map folded in so
                # constraints() resolves O(tail) like snapshot()/txns()
                # instead of replaying every manifest from version 0 on
                # EVERY write-path enforcement
                "constraints": self.constraints(head),
                # active deletion-vector map folded in the same way, so
                # dv_map() resolution is O(tail) too
                "dvs": self._dv_map_checked(head),
                # per-file dv row totals fold alongside, so the
                # smallness bound stays driver arithmetic after cleanup
                "dv_row_counts": self.dv_row_counts(head),
            },
            sort_keys=True,
        )
        final = os.path.join(self.log_dir, f"{head:020d}.checkpoint.json")
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            fh.write(payload)
        os.replace(tmp, final)

    def _try_link(self, tmp: str, version: int) -> bool:
        final = os.path.join(self.log_dir, _fmt_version(version))
        try:
            os.link(tmp, final)
            return True
        except FileExistsError:
            return False
        except OSError:
            # Filesystem without hard links: serialize writers through an
            # O_EXCL claim marker, then publish with an ATOMIC os.replace
            # — readers can never observe a partially-written manifest
            # (an O_EXCL create-then-write of the final name would be
            # visible empty between the two steps). A crash between claim
            # and publish leaves a stale claim; it is broken by the next
            # writer once old enough that its owner is surely dead.
            claim = final + ".claim"
            try:
                os.close(os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            except FileExistsError:
                if not os.path.exists(final):
                    import time

                    try:
                        if time.time() - os.path.getmtime(claim) > 60:
                            os.unlink(claim)
                    except OSError:
                        pass
                return False
            if os.path.exists(final):
                os.unlink(claim)
                return False
            pub = final + ".pub"
            with open(tmp) as src, open(pub, "w") as dst:
                dst.write(src.read())
            os.replace(pub, final)
            os.unlink(claim)
            return True

    def commit(
        self,
        *,
        add: list[str] | None = None,
        remove: list[str] | None = None,
        op: str = "append",
        stats: dict[str, dict] | None = None,
        txn: tuple[str, int] | None = None,
        validate=None,
        extra: dict | None = None,
        constraints_epoch: int | None = None,
    ) -> int:
        """Atomically publish one commit; returns the version written.
        Retries past racing writers (optimistic concurrency); raises
        :class:`CommitConflict` if a racer invalidated this commit's
        removes, or if ``txn=(app, batch)`` was already committed by a
        racer (exactly-once: the transaction id rides the SAME atomic
        commit as the data it covers). ``validate(head)`` runs on every
        retry BEFORE the CAS attempt — operation-specific conflict
        checks (e.g. merge key-overlap) raise CommitConflict from it; a
        racer landing after a validation makes the CAS fail, so the
        next loop revalidates against the new head. Lands a checkpoint
        manifest every ``checkpoint_interval`` commits."""
        add = list(add or [])
        remove = list(remove or [])
        body = {"op": op, "add": add, "remove": remove, "stats": stats or {}}
        if extra:
            body.update(extra)
        if txn is not None:
            body["txn"] = {"app": txn[0], "batch": int(txn[1])}
        payload = json.dumps(body, sort_keys=True)
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            fh.write(payload)
        try:
            for attempt in range(self.MAX_COMMIT_RETRIES):
                if attempt:
                    # capped exponential backoff between CAS retries: on
                    # the no-hardlink fallback a crashed writer's stale
                    # .claim only breaks after its age threshold, and 50
                    # immediate retries would exhaust in milliseconds,
                    # surfacing a spurious CommitConflict with zero live
                    # contention; backing off also de-thunders real racers
                    import time

                    time.sleep(min(2.0, 0.01 * (2 ** min(attempt, 8))))
                head = self.latest_version()
                if txn is not None:
                    done = self.txns(head).get(txn[0], -1)
                    if done >= int(txn[1]):
                        raise CommitConflict(
                            f"txn {txn} already committed (high-water {done})"
                        )
                if remove:
                    # revalidate against the CURRENT head: every file this
                    # commit logically deletes must still be live
                    live = set(self.files(head))
                    gone = [f for f in remove if f not in live]
                    if gone:
                        raise CommitConflict(
                            f"files removed by a concurrent commit: {gone}"
                        )
                if (
                    constraints_epoch is not None
                    and head is not None
                    and head > constraints_epoch
                ):
                    # metadata-conflict detection: a CHECK
                    # constraint added by a concurrent writer AFTER this
                    # batch's enforcement pass means the batch was never
                    # validated against it — surface the conflict instead
                    # of landing possibly-violating rows (drops cannot
                    # invalidate a passed enforcement, so only
                    # additions/tightenings conflict). Detected by
                    # DIFFING the checkpoint-aware constraint maps at
                    # epoch vs head, not by replaying raw manifests in
                    # (epoch, head]: manifest cleanup below a checkpoint
                    # — a pattern the checkpoint-tail test sanctions —
                    # would make a deleted constraint-add manifest
                    # invisible to the raw scan, silently landing an
                    # unvalidated batch.
                    if not (
                        self._constraints_view_complete(constraints_epoch)
                        and self._constraints_view_complete(head)
                    ):
                        raise CommitConflict(
                            "constraint-conflict check cannot prove no "
                            f"concurrent constraint-add in "
                            f"({constraints_epoch}, {head}]: the manifest "
                            "chain has been cleaned past the covering "
                            "checkpoint; re-enforce against the current "
                            "head and retry"
                        )
                    before = self.constraints(constraints_epoch)
                    after = self.constraints(head)
                    changed = sorted(
                        n
                        for n, c in after.items()
                        if before.get(n) != c
                    )
                    if changed:
                        raise CommitConflict(
                            f"constraints {changed} added/changed by a "
                            f"concurrent commit after this batch was "
                            "enforced; re-enforce and retry"
                        )
                if validate is not None:
                    validate(head)
                version = 0 if head is None else head + 1
                if self._try_link(tmp, version):
                    if (
                        self.checkpoint_interval
                        and version
                        and version % self.checkpoint_interval == 0
                    ):
                        self.checkpoint(version)
                    return version
            raise CommitConflict(
                f"no commit slot won in {self.MAX_COMMIT_RETRIES} retries"
            )
        finally:
            os.unlink(tmp)

    # -- data-file plumbing ------------------------------------------------

    def _land_files(
        self, df: DataFrame, *, preserve_layout: bool = False
    ) -> list[str]:
        """Materialize ``df`` as immutable uniquely-named parquet files
        inside the table dir (NOT yet referenced by any manifest — a
        crash here leaves invisible orphans for vacuum). With a
        ``stats_col`` configured, files are range-partitioned on it so
        per-file [min, max] envelopes are tight and disjoint — the
        layout that makes manifest-level file skipping bite.
        ``preserve_layout=True`` keeps the caller's partitioning/sort
        (e.g. a Z-order rewrite) instead of re-range-partitioning.

        The range-partitioned file count comes from data volume: one
        file per ``LANDING_FILE_BYTES`` (128 MiB, the session's
        ``spark.sql.files.maxPartitionBytes``, so a landed file is one
        scan split) of the bytes ``df`` reads
        (``sizing.plan_input_bytes``), rounded up to a power of two and
        at least ``LANDING_FILES`` (8, also ``optimize_zorder``'s
        default), so that a narrow merge or delete rewrites a file's
        share of the table, not a fixed fraction of it. A frame whose
        input has no size estimate lands the minimum. The count does
        not follow the session's core count: a core-derived count lands
        one file on a small host, where no file can be skipped and every
        merge or delete rewrites the whole table, and it lands the same
        data in a different layout on every host."""
        staging = os.path.join(self.table_dir, f".staging-{uuid.uuid4().hex}")
        if (
            not preserve_layout
            and self.stats_col is not None
            and self.stats_col in df.columns
        ):
            from pyspark.sql import functions as F

            files = sized_partitions(
                plan_input_bytes(df) or 0,
                self.LANDING_FILE_BYTES,
                min_partitions=self.LANDING_FILES,
            )
            df = df.repartitionByRange(files, F.col(self.stats_col))
        df.write.mode("overwrite").parquet(staging)
        prefix = uuid.uuid4().hex
        names = []
        for i, part in enumerate(
            sorted(p for p in os.listdir(staging) if p.endswith(".parquet"))
        ):
            name = f"part-{prefix}-{i:05d}.parquet"
            os.rename(os.path.join(staging, part), os.path.join(self.table_dir, name))
            names.append(name)
        shutil.rmtree(staging)
        return names

    def _file_stats(
        self, spark: SparkSession, names: list[str]
    ) -> dict[str, dict]:
        """min/max/rows of ``stats_col`` per landed file — plus [min,
        max] envelopes for every ``extra_stats_cols`` column present —
        in ONE Spark job (group by input_file_name over a single
        multi-file scan). With a ``bloom_col`` configured, a second
        one-job pass attaches a per-file Bloom bitset for point-lookup
        skipping (``_file_blooms``)."""
        if not names or (self.stats_col is None and self.bloom_col is None):
            return {}
        if self.stats_col is None:
            out: dict[str, dict] = {}
            self._attach_blooms(spark, names, out)
            return out
        from pyspark.sql import functions as F

        paths = [os.path.join(self.table_dir, n) for n in names]
        scan = spark.read.parquet(*paths)
        if self.stats_col not in scan.columns:
            out = {}
            self._attach_blooms(spark, names, out)
            return out
        extras = [c for c in self.extra_stats_cols if c in scan.columns]
        rows = (
            scan.groupBy(
                F.element_at(
                    F.split(F.input_file_name(), "/"), -1
                ).alias("__file")
            )
            .agg(
                F.min(self.stats_col).alias("mn"),
                F.max(self.stats_col).alias("mx"),
                F.count(F.lit(1)).alias("rows"),
                *[
                    x
                    for c in extras
                    for x in (
                        F.min(c).alias(f"mn_{c}"),
                        F.max(c).alias(f"mx_{c}"),
                    )
                ],
            )
            .collect()  # bounded: one row per landed file
        )

        def _plain(v):
            # stats must round-trip JSON with their ORDER intact: a
            # str()-coerced date/Decimal would later compare against
            # native-typed keys (TypeError in bisect / key_between).
            # Fail at write time with the fix in hand, not at read time.
            if v is None or isinstance(v, (int, float, str)):
                return v
            raise TypeError(
                f"stats_col {self.stats_col!r} has non-JSON-orderable "
                f"type {type(v).__name__}; use an int/float/str key "
                "(cast dates/timestamps to epoch days/micros upstream)"
            )

        out: dict[str, dict] = {}
        for r in rows:
            st = {"col": self.stats_col, "rows": r["rows"]}
            # a file whose stats_col values are ALL NULL aggregates to
            # min=max=None; recording JSON nulls would later compare
            # None against real keys (TypeError in bisect/key pruning).
            # Omit the envelope instead: every consumer treats a
            # missing "min" as stats-absent and conservatively keeps /
            # touches the file.
            if r["mn"] is not None:
                st["min"] = _plain(r["mn"])
                st["max"] = _plain(r["mx"])
            env = {
                c: {
                    "min": _plain(r[f"mn_{c}"]),
                    "max": _plain(r[f"mx_{c}"]),
                }
                for c in extras
                if r[f"mn_{c}"] is not None
            }
            if env:
                st["cols"] = env
            out[r["__file"]] = st
        self._attach_blooms(spark, names, out)
        return out

    def _bloom_position_exprs(self, value_col):
        """The k bucket-position expressions — ONE definition shared by
        the build side (_file_blooms) and the probe side
        (_bloom_positions), so a probe can never disagree with the
        bitset it tests. xxhash64 is seed-stable across sessions;
        F.concat null-propagates (never concat_ws here: its null-skip
        would alias NULL values onto the bare-salt hash)."""
        from pyspark.sql import functions as F

        return [
            F.pmod(
                F.xxhash64(F.concat(value_col, F.lit(f":{i}"))),
                F.lit(self.bloom_bits),
            )
            for i in range(self.bloom_hashes)
        ]

    def _attach_blooms(
        self, spark: SparkSession, names: list[str], out: dict[str, dict]
    ) -> None:
        """Per-file Bloom bitsets over ``bloom_col``, merged into the
        stats dict as hex strings. Exact over each file's values, so a
        point lookup has NO false negatives (every present value was
        OR-ed in); false positives only cost an extra file open —
        the residual equality filter keeps results exact. NULLs are not
        indexed (equality to NULL is never true). m bits/file in the
        manifest (m/4 hex chars): at 100 TB pick m per expected
        distinct-per-file, not per table."""
        if self.bloom_col is None or not names:
            return
        from pyspark.sql import functions as F

        paths = [os.path.join(self.table_dir, n) for n in names]
        scan = spark.read.parquet(*paths)
        if self.bloom_col not in scan.columns:
            return
        v = F.col(self.bloom_col).cast("string")
        rows = (
            scan.filter(v.isNotNull())
            .select(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias(
                    "__file"
                ),
                F.explode(F.array(*self._bloom_position_exprs(v))).alias("p"),
            )
            .groupBy("__file")
            .agg(F.collect_set("p").alias("ps"))  # bounded by m per file
            .collect()
        )
        width = self.bloom_bits // 4
        for r in rows:
            bits = 0
            for p in r["ps"]:
                bits |= 1 << int(p)
            out.setdefault(r["__file"], {})["bloom"] = {
                "col": self.bloom_col,
                "m": self.bloom_bits,
                "k": self.bloom_hashes,
                "hex": f"{bits:0{width}x}",
            }

    def _bloom_positions(self, spark: SparkSession, value) -> list[int]:
        """Probe positions for one lookup value — evaluated through the
        SAME Spark expressions as the build side (a Python reimplementation
        of xxhash64 would be a second source of truth)."""
        from pyspark.sql import functions as F

        row = (
            spark.range(1)
            .select(
                *[
                    e.alias(f"p{i}")
                    for i, e in enumerate(
                        self._bloom_position_exprs(
                            F.lit(value).cast("string")
                        )
                    )
                ]
            )
            .collect()[0]
        )
        return [int(row[f"p{i}"]) for i in range(self.bloom_hashes)]

    def bloom_pruned_file_count(
        self, spark: SparkSession, value, version: int | None = None
    ) -> tuple[int, int]:
        """(files opened, files total) for a bloom-skipped point lookup
        — the manifest-level I/O measurement (pruned_file_count's
        point-predicate sibling)."""
        snap = self.snapshot(version)
        probe = self._bloom_positions(spark, value)
        return len(self._select_files(snap, probe=probe)), len(snap)

    @staticmethod
    def _bloom_hits(st: dict, positions: list[int]) -> bool:
        """True when the file must be opened: no bloom recorded
        (conservative) or every probe bit is set."""
        b = (st or {}).get("bloom")
        if not b:
            return True
        bits = int(b["hex"], 16)
        return all((bits >> p) & 1 for p in positions)

    # -- constraints (table-level CHECK, persisted in the log) -------------

    def set_check_constraint(self, name: str, predicate_sql: str) -> int:
        """Persist a CHECK constraint as a data-free ledger commit (the
        constraint definition rides the SAME log as the data it governs,
        so every writer — current or future process — discovers it by
        manifest replay, exactly like Delta's ``ADD CONSTRAINT``
        metadata commit). Standard CHECK semantics: a row passes when
        the predicate is TRUE **or NULL** (unknown passes); spell
        NOT-NULL columns as ``col IS NOT NULL``, which evaluates to
        plain FALSE on NULLs and therefore rejects them.

        Adding the constraint does NOT scan existing data (that needs a
        Spark job this metadata commit should not hide); callers that
        add a constraint to a non-empty table prove it explicitly via
        :meth:`validate_constraint` — the ADD CONSTRAINT-time backfill
        check, kept separate exactly so the scan cost is visible."""
        return self.commit(
            op="set_constraint",
            extra={"constraint": {"name": name, "check": predicate_sql}},
        )

    def drop_check_constraint(self, name: str) -> int:
        return self.commit(
            op="drop_constraint",
            extra={"constraint": {"name": name, "check": None}},
        )

    def constraints(self, version: int | None = None) -> dict[str, str]:
        """name -> CHECK predicate at ``version`` (latest when None).
        Resolution starts from the newest checkpoint at-or-below
        ``version`` that carries a constraint map (older checkpoints
        predate the folding and fall back to full replay), then replays
        only the manifest tail — O(tail), matching snapshot()/txns();
        this runs on EVERY write-path enforcement, so it must not grow
        with total commit count."""

        def _apply(out: dict, m: dict) -> None:
            c = m.get("constraint")
            if c and c.get("check") is None:
                out.pop(c["name"], None)
            elif c:
                out[c["name"]] = c["check"]

        return self._replay(
            version, "constraints", lambda ck: dict(ck["constraints"]), _apply
        )

    def _view_complete(self, x: int, key: str) -> bool:
        """True when the ``key``-keyed log view at ``x`` resolves
        without gaps: a checkpoint at-or-below ``x`` CARRYING ``key``
        plus every manifest in its (cp, x] tail, or (no such
        checkpoint) the full manifest chain [0, x]. Manifest cleanup
        below a checkpoint is a sanctioned maintenance pattern; a
        replay that silently skips missing manifests is not — every
        commit-time conflict diff must refuse rather than trust a
        partial view."""
        _, start = self._checkpoint_for(x, key)
        have = set(self.versions())
        return all(v in have for v in range(start, x + 1))

    def _constraints_view_complete(self, x: int) -> bool:
        """True when ``constraints(x)`` resolves without gaps — when
        manifests below a checkpoint have been cleaned up AND the epoch
        predates that checkpoint, the commit-time constraint-conflict
        diff must refuse rather than trust a silently-partial replay."""
        return self._view_complete(x, "constraints")

    def _enforce_constraints(self, df: DataFrame) -> int:
        """Refuse a write batch violating any live CHECK constraint.
        ONE aggregate job over the incoming batch counts violators of
        every constraint at once (a row violates when its predicate
        evaluates to FALSE — NULL/unknown passes, per SQL CHECK).
        Runs BEFORE any file lands: a rejected batch leaves the table
        directory byte-identical (not even vacuum-able orphans).

        Returns the log version the constraint map was read at; write
        paths hand it to :meth:`commit` as ``constraints_epoch`` so the
        CAS retry loop detects a CHECK added by a concurrent writer
        AFTER this enforcement — without it a violating
        batch could land against a constraint it was never checked
        against."""
        head = self.latest_version()
        epoch = -1 if head is None else head  # -1 = enforced on empty log
        checks = self.constraints(head)
        if not checks:
            return epoch
        from pyspark.sql import functions as F

        names = sorted(checks)
        counts = df.agg(
            *[
                F.sum(
                    F.when(~F.coalesce(F.expr(checks[n]), F.lit(True)), 1)
                    .otherwise(0)
                ).alias(n)
                for n in names
            ]
        ).first()
        bad = {n: int(counts[n] or 0) for n in names if (counts[n] or 0) > 0}
        if bad:
            raise ConstraintViolation(
                "write rejected; CHECK constraint violations: "
                + ", ".join(f"{n} ({c} rows)" for n, c in sorted(bad.items()))
            )
        return epoch

    def validate_constraint(self, spark: SparkSession, name: str) -> None:
        """Optionally prove a (new) constraint over the CURRENT
        snapshot — the ADD CONSTRAINT-time backfill check."""
        checks = self.constraints()
        if name not in checks:
            raise KeyError(name)
        from pyspark.sql import functions as F

        n_bad = (
            self.read(spark)
            .filter(~F.coalesce(F.expr(checks[name]), F.lit(True)))
            .limit(1)
            .count()
        )
        if n_bad:
            raise ConstraintViolation(
                f"existing rows violate constraint {name!r}"
            )

    # -- history (DESCRIBE HISTORY) -----------------------------------------

    def history(self) -> list[dict]:
        """One audit record per commit, oldest first: version, op, files
        added/removed, rows added (from per-file manifest stats when the
        table records them, else None) — Delta's DESCRIBE HISTORY over
        this log. Pure driver-side manifest replay, no Spark job."""
        out = []
        for v in self.versions():
            m = self._manifest(v)
            stats = m.get("stats") or {}
            rows = [
                (stats.get(f) or {}).get("rows") for f in m.get("add", ())
            ]
            out.append(
                {
                    "version": v,
                    "op": m.get("op", "?"),
                    "files_added": len(m.get("add", ())),
                    "files_removed": len(m.get("remove", ())),
                    "rows_added": (
                        sum(rows) if rows and all(r is not None for r in rows)
                        else None
                    ),
                    "constraint": (m.get("constraint") or {}).get("name"),
                }
            )
        return out

    # -- table operations --------------------------------------------------

    def append(self, df: DataFrame) -> int:
        cepoch = self._enforce_constraints(df)
        adds = self._land_files(df)
        return self.commit(
            add=adds,
            op="append",
            stats=self._file_stats(df.sparkSession, adds),
            constraints_epoch=cepoch,
        )

    def overwrite(self, df: DataFrame) -> int:
        cepoch = self._enforce_constraints(df)
        adds = self._land_files(df)
        return self.commit(
            add=adds,
            remove=self.files(),
            op="overwrite",
            stats=self._file_stats(df.sparkSession, adds),
            constraints_epoch=cepoch,
        )

    def clone_shallow(
        self, target_dir: str, *, version: int | None = None
    ) -> "TableLog":
        """Zero-copy clone of the snapshot at ``version`` (latest by
        default) — Delta's SHALLOW CLONE: a NEW independent table whose
        v0 commit references the source's immutable data files without
        copying a byte. Locally the reference is a hard link (same
        inode), which is STRONGER isolation than Delta's absolute-path
        reference: a later vacuum on the source unlinks its name but
        the clone's link keeps the inode alive, so the clone can never
        dangle (cross-device / no-hardlink filesystems degrade to a
        byte copy with identical semantics). Stats ride along, so file
        skipping works on the clone immediately; each side's subsequent
        commits (appends, deletes, compactions, vacuums) are invisible
        to the other because data files are immutable and the logs are
        separate."""
        # resolve the head ONCE and snapshot exactly that version: a
        # racer committing between two reads would otherwise stamp the
        # clone with a version its file set does not reflect
        src_version = self.latest_version() if version is None else int(version)
        snap = self.snapshot(src_version)
        dvm = self._dv_map_checked(src_version)
        # mirror restore()'s precheck: an explicitly requested version
        # whose data files were vacuumed must raise BEFORE anything is
        # created — otherwise os.link raises FileNotFoundError (an
        # OSError), the except falls into shutil.copy2 which re-raises
        # mid-loop and leaves a half-populated, uncommitted clone dir
        missing = [
            n for n in list(snap) + sorted(set(dvm.values()))
            if not os.path.exists(os.path.join(self.table_dir, n))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot clone version {src_version}: data files "
                f"vacuumed: {missing}"
            )
        clone = TableLog(
            target_dir,
            stats_col=self.stats_col,
            extra_stats_cols=self.extra_stats_cols,
            bloom_col=self.bloom_col,
            bloom_bits=self.bloom_bits,
            bloom_hashes=self.bloom_hashes,
            checkpoint_interval=self.checkpoint_interval,
        )
        if clone.latest_version() is not None:
            raise ValueError(f"clone target {target_dir} is not empty")
        # active deletion-vector sidecars ride along: the clone's reads
        # must subtract the same positions the source's did
        for name in list(snap) + sorted(set(dvm.values())):
            src = os.path.join(self.table_dir, name)
            dst = os.path.join(clone.table_dir, name)
            if not os.path.exists(dst):
                try:
                    os.link(src, dst)
                except OSError:
                    # cross-device target or a no-hardlink filesystem
                    # (the same environments the manifest CAS's
                    # _try_link fallback exists for): fall back to a
                    # real copy — "shallow" degrades to byte-copy but
                    # the clone's semantics are unchanged
                    shutil.copy2(src, dst)
        extra = {
            "clone_of": self.table_dir,
            "clone_version": src_version,
        }
        if dvm:
            extra["dv"] = dvm
            # best-effort row-count propagation: entries the source
            # never recorded stay absent (consumers count those once)
            src_counts = self.dv_row_counts(src_version)
            rows = {n: src_counts[n] for n in dvm if n in src_counts}
            if rows:
                extra["dv_rows"] = rows
        clone.commit(
            add=list(snap),
            op="clone",
            stats={n: st for n, st in snap.items() if st},
            extra=extra,
        )
        return clone

    def restore(self, target_version: int) -> int:
        """RESTORE TABLE to ``target_version`` as a NEW commit (Delta
        RESTORE semantics): the head moves FORWARD and history is
        preserved — unlike time travel, later readers of the LATEST
        snapshot see the restored state. No data is rewritten; the
        target snapshot's immutable files are re-added to the live set
        (with their original stats, so file skipping keeps working) and
        the current extras are logically removed. The target's files
        must still exist — a vacuum that dropped them makes the restore
        impossible, and this raises instead of committing a snapshot
        with dangling references. Conflict semantics match
        ``overwrite``: commit() revalidates the removes against any
        racing head."""
        target = self.snapshot(target_version)
        target_dvm = self._dv_map_checked(target_version)
        missing = [
            n for n in list(target) + sorted(set(target_dvm.values()))
            if not os.path.exists(os.path.join(self.table_dir, n))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore to version {target_version}: data files "
                f"vacuumed: {missing}"
            )
        head = self.latest_version()
        current = set(self.files(head))
        current_dvm = self._dv_map_checked(head)
        add = [n for n in target if n not in current]
        remove = [n for n in current if n not in target]
        # the restored state's deletion vectors must match the target
        # version too: re-added files re-attach theirs, surviving files
        # whose vector changed since get the target's (None clears)
        dv: dict[str, str | None] = {}
        for n in target:
            tdv = target_dvm.get(n)
            if n in current and current_dvm.get(n) == tdv:
                continue
            if n not in current and tdv is None:
                continue
            dv[n] = tdv
        extra: dict = {"restore_of": int(target_version)}
        if dv:
            extra["dv"] = dv
            tcounts = self.dv_row_counts(target_version)
            rows = {
                n: tcounts[n]
                for n, d in dv.items()
                if d is not None and n in tcounts
            }
            if rows:
                extra["dv_rows"] = rows
        return self.commit(
            add=add,
            remove=remove,
            op="restore",
            stats={n: st for n, st in target.items() if n in add and st},
            extra=extra,
        )

    def _rewrite_snapshot(self, spark: SparkSession, op: str, layout) -> int:
        """The DV-aware whole-snapshot rewrite behind ``compact`` and
        ``optimize_zorder``: read ONE resolved snapshot with its deletion
        vectors applied, land ``layout(rows)`` as laid out, and commit it
        in place of exactly that file list. Re-resolving the snapshot at
        commit time would duplicate the rows of any file a racer commits
        in between. Deleted rows cannot resurrect, and the rewritten
        files' vectors retire with them (the rewrite doubles as a purge).
        Appends commute with the rewrite; a racer's deletion vector on a
        rewritten file changes content this rewrite already read without
        touching the file set the liveness check guards, so it
        conflicts."""
        base = self.latest_version()
        current = self.files(base)
        if not current:
            raise ValueError(f"table {self.table_dir} has no committed data")
        base_dvm = self._dv_map_checked(base)

        def _validate(head):
            dvc = self._dv_changes_since(base_dvm, head, touched=current)
            if dvc:
                raise CommitConflict(
                    f"concurrent deletion vectors landed on {dvc} "
                    f"during the {op} rewrite; re-run the {op}"
                )

        df = self._scan_files(spark, current, dvm=base_dvm)
        adds = self._land_files(layout(df), preserve_layout=True)
        return self.commit(
            add=adds,
            remove=current,
            op=op,
            stats=self._file_stats(spark, adds),
            validate=_validate,
        )

    def compact(self, spark: SparkSession, *, target_partitions: int = 1) -> int:
        """Rewrite the current snapshot into ``target_partitions`` files
        (small-file compaction as a TRANSACTION): readers holding any
        prior snapshot keep bit-identical results because the old files
        stay on disk until vacuum. With a ``stats_col`` the rows are
        range-partitioned on it, so the files keep tight, disjoint
        envelopes for file skipping."""
        from pyspark.sql import functions as F

        def layout(df: DataFrame) -> DataFrame:
            if self.stats_col in df.columns:
                return df.repartitionByRange(
                    target_partitions, F.col(self.stats_col)
                )
            return df.repartition(target_partitions)

        return self._rewrite_snapshot(spark, "compact", layout)

    def optimize_zorder(
        self,
        spark: SparkSession,
        x_col: str,
        y_col: str,
        *,
        bits: int = 8,
        target_files: int = LANDING_FILES,
    ) -> int:
        """OPTIMIZE ZORDER BY (x_col, y_col): rewrite the current
        snapshot clustered by the Morton interleave of both columns —
        Delta's ``OPTIMIZE ... ZORDER BY`` as a transaction on this log.
        Content is bit-identical (a pure layout rewrite); readers
        holding any prior snapshot are untouched (immutable files +
        manifest removes), and time travel to the pre-optimize version
        keeps working until vacuum.

        Layout mechanics: both columns are bucketed to ``bits`` bits
        against their global maxima (ONE bounded 1-row collect), rows
        are range-partitioned AND sorted by the interleaved key
        (operators.warehouse.morton_key), so each landed file owns a
        compact Z-range whose min/max envelope bounds BOTH dimensions —
        a 2-D box predicate then skips most files, where a
        single-column sort only prunes its leading key (file-count gap
        asserted in tests/test_tablelog). The landing keeps the Z
        clustering instead of re-partitioning by stats_col; manifest
        stats are still recorded per landed file."""
        from pyspark.sql import functions as F

        from c3dc_etl_spark.operators.warehouse import morton_key

        def layout(df: DataFrame) -> DataFrame:
            bounds = df.agg(
                F.min(F.col(x_col)).alias("nx"),
                F.max(F.col(x_col)).alias("mx"),
                F.min(F.col(y_col)).alias("ny"),
                F.max(F.col(y_col)).alias("my"),
            ).first()
            if bounds["mx"] is None or bounds["my"] is None:
                raise ValueError("optimize_zorder: z-order columns are all-NULL")
            if bounds["nx"] < 0 or bounds["ny"] < 0:
                # Morton interleave is defined over non-negative bucket
                # ids; a negative value would shift garbage into the key
                raise ValueError(
                    "optimize_zorder requires non-negative z-order columns "
                    "(offset/clamp negatives upstream)"
                )
            width = 1 << bits
            mx, my = int(bounds["mx"]), int(bounds["my"])
            xb = F.floor(F.col(x_col) * float(width) / (mx + 1)).cast("bigint")
            yb = F.floor(F.col(y_col) * float(width) / (my + 1)).cast("bigint")
            return (
                df.withColumn("__z", morton_key(xb, yb, bits=bits))
                .repartitionByRange(target_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )

        return self._rewrite_snapshot(spark, "optimize_zorder", layout)

    def _key_env(self, st: dict):
        """[min, max] envelope of the CURRENT ``stats_col``, or None when
        the file has no usable envelope — including stats recorded under
        a DIFFERENT stats column (a handle opened with a new key after a
        layout change, or a misconfigured handle): comparing another
        column's envelope against this key's range would silently
        mis-prune and drop/keep the wrong files, so such files are
        conservatively treated as stats-absent everywhere."""
        if not st or "min" not in st:
            return None
        if st.get("col") is not None and st.get("col") != self.stats_col:
            return None
        return st["min"], st["max"]

    def _added_since(self, base_snap: dict, head: int, action: str) -> dict:
        """name -> stats of files live at ``head`` but not in
        ``base_snap`` — the NET adds since this operation's base, the
        conflict surface for predicate-level checks (merge key overlap,
        delete/replace range overlap). Resolved from the
        checkpoint-aware ``snapshot(head)`` instead of a raw manifest
        scan of (base, head]: a checkpoint+cleanup landing during a
        long read window removes manifests a range scan would have
        visited, silently hiding a racer's overlapping append.
        Net-state is also the right OCC question: a racer whose adds
        were themselves removed again by ``head`` leaves no rows for
        this commit to conflict with. Refuses when head's file view
        cannot be resolved without gaps."""
        if not self._view_complete(head, "files"):
            raise CommitConflict(
                f"cannot prove no concurrent overlapping append: "
                f"manifests needed to resolve version {head} were "
                f"cleaned up; re-read and re-apply the {action}"
            )
        return {
            n: st
            for n, st in self.snapshot(head).items()
            if n not in base_snap
        }

    def _select_files(
        self,
        snap: dict[str, dict],
        *,
        keys: list | None = None,
        key_between: tuple | None = None,
        col_between: dict[str, tuple] | None = None,
        probe: list[int] | None = None,
    ) -> list[str]:
        """The files of ``snap`` (in snapshot order) a predicate may
        touch: the ``stats_col`` envelope holds one of ``keys`` and
        meets ``key_between``, each ``col_between`` envelope meets its
        range, and the Bloom bitset has every ``probe`` bit. A file
        lacking the envelope or bitset a test needs is kept, because
        its disjointness cannot be proven. Driver arithmetic on the
        manifest: ``keys`` are sorted once and bisected per file."""
        import bisect

        skeys = None if keys is None else sorted(keys)

        def hit(st: dict) -> bool:
            env = self._key_env(st)
            if env is not None and skeys is not None:
                i = bisect.bisect_left(skeys, env[0])
                if i == len(skeys) or skeys[i] > env[1]:
                    return False
            ranges = [(env, key_between)] if key_between is not None else []
            for c, rng in (col_between or {}).items():
                e = (st or {}).get("cols", {}).get(c)
                ranges.append((e and (e["min"], e["max"]), rng))
            if any(
                e is not None and (e[1] < lo or e[0] > hi)
                for e, (lo, hi) in ranges
            ):
                return False
            return probe is None or self._bloom_hits(st, probe)

        return [n for n, st in snap.items() if hit(st)]

    def _rewrite(
        self,
        spark: SparkSession,
        *,
        op: str,
        target: str,
        action: str,
        where: dict,
        keep,
        incoming: DataFrame | None = None,
        txn: tuple[str, int] | None = None,
        constraints_epoch: int | None = None,
    ) -> int:
        """The copy-on-write transaction behind ``merge_upsert``,
        ``merge_apply_cdc``, ``delete_where`` and ``replace_where`` —
        Delta's "rewrite the envelope-hit files". It captures the base
        version, snapshot and deletion-vector map; touches only the
        files ``_select_files(**where)`` picks; reads them with the BASE
        vectors applied (a racer's vector landing mid-read must
        conflict, not leak in); lands ``keep(existing)`` together with
        ``incoming``; and commits the landed files in place of the
        touched ones. Every other file survives by name: a batch
        touching 0.1 % of the key space rewrites 0.1 % of the table.
        With nothing touched and no ``incoming`` the commit carries no
        data but still records ``txn``. ``incoming`` lands in the table's
        column order, touched files or not; a batch whose column set is
        not the table's raises ValueError before anything lands.

        Conflicts, checked on every commit retry against the new head:
        a net add since base that ``where`` also picks (a racer's row
        for a merged key would coexist with the merge's, a racer's row
        in a deleted range would survive the delete), and a deletion
        vector changed on a touched file (the rewrite would resurrect
        the racer's deletes). Both are diffed through checkpoint-aware
        endpoint views, so a checkpoint plus manifest cleanup during
        the read cannot hide a racer. A racer landing after a
        validation makes the CAS fail, so the loop revalidates."""
        base = self.latest_version()
        base_snap = self.snapshot(base)
        base_dvm = self._dv_map_checked(base)
        touched = self._select_files(base_snap, **where)

        def _validate(head):
            if head is None or head == base:
                return
            added = self._added_since(base_snap, head, action)
            hit = sorted(self._select_files(added, **where))
            if hit:
                raise CommitConflict(
                    "concurrent commits added files overlapping the "
                    f"{target}: {hit}; re-read and re-apply the {action}"
                )
            dv_hit = self._dv_changes_since(base_dvm, head, touched=touched)
            if dv_hit:
                raise CommitConflict(
                    "concurrent deletion vectors landed on files this "
                    f"{action} rewrites: {dv_hit}; re-apply the {action}"
                )

        rows = incoming
        if touched or (incoming is not None and base_snap):
            existing = self._scan_files(spark, touched or list(base_snap), dvm=base_dvm)
            if incoming is not None:
                odd = sorted(set(incoming.columns) ^ set(existing.columns))
                if odd:
                    raise ValueError(
                        f"{action}: batch columns differ from the table's "
                        f"{existing.columns} in {odd}"
                    )
                rows = incoming.select(*existing.columns)
            if touched:
                kept = keep(existing)
                rows = kept if rows is None else kept.unionByName(rows)
        adds = [] if rows is None else self._land_files(rows)
        return self.commit(
            add=adds,
            remove=touched,
            op=op,
            stats=self._file_stats(spark, adds),
            txn=txn,
            validate=_validate,
            constraints_epoch=constraints_epoch,
        )

    def _outside(self, key_between: tuple):
        """Rows outside the ``stats_col`` range [lo, hi]. A NULL key is
        outside too: three-valued BETWEEN is NULL, not true, so a bare
        ``~between`` would drop it from a delete's survivors and let it
        through a replace's range check."""
        from pyspark.sql import functions as F

        c = F.col(self.stats_col)
        return c.isNull() | ~c.between(*key_between)

    def _key_profile(self, batch: DataFrame, key_col: str, is_delete) -> list:
        """ONE aggregate job over a merge batch: per key ``k``, whether
        it mixes delete and upsert rows and its upsert-row count
        ``n_up``. The keys are the pruning list, and the profile is what
        Delta's multiple-source-match error is raised from (a key with
        both ops, or several upserts, is ambiguous: they would ALL land
        after the anti-join removes the stored row). Bounded: the batch
        is small by the merge contract."""
        from pyspark.sql import functions as F

        return (
            batch.select(F.col(key_col).alias("k"), is_delete.alias("d"))
            .groupBy("k")
            .agg(
                (F.max("d") & ~F.min("d")).alias("mixed"),
                F.sum(F.when(~F.col("d"), 1).otherwise(0)).alias("n_up"),
            )
            .collect()
        )

    def _merge(
        self,
        spark: SparkSession,
        batch: DataFrame,
        upserts: DataFrame,
        key_col: str,
        keys: list,
        *,
        op: str,
        action: str,
        txn: tuple[str, int] | None,
        constraints_epoch: int,
    ) -> int:
        """``merge_apply_cdc``'s core run (``merge_upsert`` is the run
        with no delete rows): rewrite the files whose envelope holds a
        ``batch`` key without the stored rows of every batch key, and
        add ``upserts``. The batch's key set is broadcast into the
        anti-join — the same smallness assumption as Delta's MERGE
        source side being the small relation."""
        from pyspark.sql import functions as F

        return self._rewrite(
            spark,
            op=op,
            target="merged key set",
            action=action,
            where={"keys": keys},
            keep=lambda existing: existing.join(
                F.broadcast(batch.select(key_col).distinct()),
                key_col,
                "left_anti",
            ),
            incoming=upserts,
            txn=txn,
            constraints_epoch=constraints_epoch,
        )

    def merge_upsert(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key_col: str,
        *,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Copy-on-write MERGE (latest-wins upsert): rewrite ONLY the
        files whose stats envelope contains a changed key; every other
        file survives untouched (see :meth:`_rewrite`).

        Contract: ``updates`` is a bounded CDC batch (its key set is
        collected to the driver for file pruning and broadcast into the
        anti-join). Matched keys take the update row; unmatched update
        keys are inserts. NULL keys (unsortable against real keys, and
        never matched by the anti-join — re-inserted on every batch)
        and several rows for one key are refused before anything
        lands.

        Concurrency: beyond the remove-liveness check every commit
        gets, each commit retry refuses a racer's file whose envelope
        overlaps the merged keys (predicate-level conflict detection)
        or a racer's deletion vector on a rewritten file."""
        from pyspark.sql import functions as F

        # carried rows already passed at their own write time; only the
        # incoming CDC rows need CHECK enforcement
        cepoch = self._enforce_constraints(updates)
        profile = self._key_profile(updates, key_col, F.lit(False))
        keys = [r["k"] for r in profile]
        if any(k is None for k in keys):
            raise ValueError(
                f"merge_upsert: updates contain NULL in key column "
                f"{key_col!r}; merge keys must be non-NULL"
            )
        if any(r["n_up"] > 1 for r in profile):
            raise ValueError(
                f"merge_upsert: multiple update rows share a {key_col!r} "
                "key; latest-wins is undefined without an ordering column "
                "— dedup the batch upstream (Delta multiple-match error)"
            )
        return self._merge(
            spark,
            updates,
            updates,
            key_col,
            keys,
            op="merge",
            action="merge",
            txn=txn,
            constraints_epoch=cepoch,
        )

    def merge_apply_cdc(
        self,
        spark: SparkSession,
        batch: DataFrame,
        key_col: str,
        *,
        op_col: str = "op",
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Full CDC MERGE: one batch carrying upserts AND deletes
        (``op_col`` = 'D' deletes the key; anything else — including a
        NULL op — is an upsert; a key may carry at most ONE op row per
        batch, enforced) applies as ONE copy-on-write commit — the
        WHEN MATCHED DELETE arm merge_upsert lacks, i.e. the complete
        Delta MERGE surface (and the GDPR-erasure path: a key-list
        delete rides the same pruned rewrite). Only files whose stats
        envelope intersects ANY batch key rewrite; deletes of absent
        keys are no-ops; same smallness contract, txn exactly-once,
        and predicate-level retry conflict detection as merge_upsert."""
        from pyspark.sql import functions as F

        # NULL-safe op classification: anything other than 'D' is an
        # upsert, a NULL op included — a plain != would evaluate NULL,
        # silently dropping the row from upserts while its key still
        # enters the delete rewrite (silent data loss)
        is_delete = F.col(op_col).eqNullSafe("D")
        upserts = batch.filter(~is_delete).drop(op_col)
        cepoch = self._enforce_constraints(upserts)
        profile = self._key_profile(batch, key_col, is_delete)
        if any(r["mixed"] or r["n_up"] > 1 for r in profile):
            raise ValueError(
                "merge_apply_cdc: a key carries conflicting ops in one "
                "batch (delete+upsert, or multiple upserts); resolve "
                "upstream (Delta multiple-match error)"
            )
        keys = [r["k"] for r in profile]
        if any(k is None for k in keys):
            raise ValueError(
                f"merge_apply_cdc: batch contains NULL in key column "
                f"{key_col!r}; merge keys must be non-NULL"
            )
        return self._merge(
            spark,
            batch,
            upserts,
            key_col,
            keys,
            op="merge_cdc",
            action="CDC merge",
            txn=txn,
            constraints_epoch=cepoch,
        )

    def delete_where(
        self,
        spark: SparkSession,
        key_between: tuple,
        *,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Copy-on-write DELETE of the ``stats_col`` range [lo, hi]:
        rewrite ONLY the files whose stats envelope intersects the
        range, dropping the matching rows (rows with a NULL key never
        match, Delta's DELETE WHERE semantics); disjoint files survive
        by name — the GDPR/retention primitive a 100 TB corpus needs.

        Concurrency (see :meth:`_rewrite`): any racer commit since this
        delete's base that ADDED a file overlapping [lo, hi] raises
        CommitConflict, since the racer's rows in the deleted range
        would survive. A no-file-touched delete still lands an (empty)
        versioned commit so ``txn`` idempotence has a ledger entry."""
        if self.stats_col is None:
            raise ValueError("delete_where requires a stats_col-configured table")
        outside = self._outside(key_between)
        return self._rewrite(
            spark,
            op="delete",
            target="deleted range",
            action="delete",
            where={"key_between": key_between},
            keep=lambda existing: existing.filter(outside),
            txn=txn,
        )

    def _dv_changes_since(
        self,
        base_dvm: dict[str, str],
        head: int | None,
        touched: list[str] | None = None,
    ) -> list[str]:
        """Data files whose ACTIVE deletion vector at ``head`` differs
        from ``base_dvm`` (the dv map this operation captured at its
        base snapshot) — the conflict signal for copy-on-write
        rewrites: a racer's vector changes file CONTENT without
        changing the file set, so the remove-liveness check alone
        would let a rewrite resurrect the racer's deleted rows.

        Resolved through the CHECKPOINT-AWARE ``dv_map(head)`` instead
        of a raw manifest scan of (base, head]: a
        checkpoint+cleanup landing during a long rewrite read window
        removes manifests a raw range scan would have visited,
        silently hiding the racer's dv commit. Diffing the endpoint
        maps is also sufficient — vectors only change through ``dv``
        entries (replace/clear) and file add/removes, and every path
        that clears a vector also removes its file, which the standard
        remove-liveness check catches. When head's dv view itself
        cannot be resolved without gaps this REFUSES (the
        ``_constraints_view_complete`` precedent) rather than trusting
        a partial replay. ``touched`` (None = every file) restricts
        the conflict surface to the files the rewrite rewrites."""
        if head is None:
            return []
        if not self._view_complete(head, "dvs"):
            raise CommitConflict(
                "cannot prove no concurrent deletion-vector commit: "
                f"manifests needed to resolve dv state at version {head} "
                "were cleaned up below a checkpoint; re-run against the "
                "current head"
            )
        head_dvm = self.dv_map(head)
        scope = set(base_dvm) | set(head_dvm)
        if touched is not None:
            scope &= set(touched)
        return sorted(f for f in scope if base_dvm.get(f) != head_dvm.get(f))

    def _dv_row_limit(self, spark: SparkSession) -> int:
        """Default bound on TOTAL active deletion-vector rows. Every
        ``_scan_files`` read broadcasts the active vectors into its
        anti-join, so the bound is the driver's broadcast budget
        (``sizing.broadcast_budget_bytes``) at ~64 bytes per row for
        the (file, pos) pair plus hash-relation overhead: "vectors are
        small by contract", enforced."""
        return broadcast_budget_bytes(spark) // 64

    def delete_where_dv(
        self,
        spark: SparkSession,
        predicate_sql: str,
        *,
        txn: tuple[str, int] | None = None,
        merge_schema: bool = False,
        max_dv_rows: int | None = None,
    ) -> int:
        """Merge-on-read DELETE (Delta's deletion vectors): mark the
        matching rows' positions in per-file sidecar bitmaps and commit
        ONLY the manifest change — no data file is rewritten, so a
        delete touching a handful of rows spread across thousands of
        100 TB-table files costs one sidecar write instead of rewriting
        every touched file (the copy-on-write ``delete_where`` cost).
        Readers subtract the vectors at scan time (``_scan_files``);
        ``purge_deletes`` later materializes them into a rewrite.

        Mechanics: the predicate is evaluated over the UNDELETED view
        of the current snapshot (already-deleted rows cannot re-match),
        each matching row is identified by (file, parquet row index),
        and each affected file's NEW vector is the union of its old
        positions and the new matches — vectors are cumulative and a
        manifest ``dv`` entry REPLACES the file's previous one, exactly
        Delta's DV protocol. The sidecar is a parquet file of (file,
        pos) rows landed beside the data files; vacuum treats active
        sidecars as referenced.

        Concurrency is strict-serializable: the predicate was evaluated
        against this delete's base snapshot, so ANY racer that changed
        the net data state (file set or dv state) since base raises
        CommitConflict — there is no stats envelope to prove
        non-overlap for an arbitrary predicate. The check diffs the
        CHECKPOINT-AWARE endpoint views (snapshot + dv_map) instead of
        scanning raw manifests in (base, head], so a checkpoint+cleanup
        landing mid-operation cannot blind it; an
        unresolvable head view refuses loudly.

        ``merge_schema`` mirrors :meth:`read`: a
        predicate referencing a column absent from older files needs
        the unioned schema, or its match set would depend on schema
        inference order. ``max_dv_rows`` (None = derived from the
        driver's broadcast budget, :meth:`_dv_row_limit`) bounds the TOTAL
        active dv rows after this commit — an oversized delete belongs
        on the copy-on-write ``delete_where`` / ``purge_deletes``
        path, and is rejected before anything lands."""
        from pyspark.sql import functions as F

        base = self.latest_version()
        snap = self.snapshot(base)
        if not snap:
            raise ValueError(f"table {self.table_dir} has no committed data")
        dvm = self._dv_map_checked(base)
        _validate = self._strict_dv_validator(base, snap, dvm, "delete")
        tagged, active = self._tagged_undeleted(
            spark, snap, dvm, merge_schema=merge_schema
        )
        # LOCAL persist: the match set feeds the per-file count AND the
        # sidecar write — one materialization, not one predicate scan
        # per consumer (and a non-deterministic predicate cannot mark
        # one position set while recording another). Every consumer
        # materializes inside this method, so the cache is released
        # before returning — a library caller never inherits the blocks.
        matches = tagged.filter(F.expr(predicate_sql)).select(
            F.col("__file").alias("file"), F.col("__pos").alias("pos")
        ).persist()
        try:
            affected, rows_deleted, new_dv, dv_rows = self._cumulative_dv(
                spark,
                matches,
                active,
                "delete_where_dv",
                max_dv_rows,
                self.dv_row_counts(base),
            )
            if not affected:
                # ledger entry for txn idempotence, content unchanged
                return self.commit(
                    op="delete_dv", txn=txn, validate=_validate
                )
            dv_name = self._land_dv_file(new_dv)
            return self.commit(
                op="delete_dv",
                txn=txn,
                validate=_validate,
                extra={
                    "dv": {f: dv_name for f in affected},
                    "dv_rows": dv_rows,
                    "rows_deleted": int(rows_deleted),
                },
            )
        finally:
            matches.unpersist()

    def _strict_dv_validator(self, base, snap, dvm, action: str):
        """Strict-serializable commit validator for the merge-on-read
        paths: their predicate/read was evaluated against the base
        snapshot, and no stats envelope can prove non-overlap for an
        arbitrary predicate — so ANY net change to the data state
        (file set or dv state) since base conflicts. Endpoint views
        are checkpoint-aware; unresolvable views
        refuse loudly."""

        def _validate(head):
            if head is None or head == base:
                return
            if not (
                self._view_complete(head, "files")
                and self._view_complete(head, "dvs")
            ):
                raise CommitConflict(
                    "cannot prove no concurrent data commit: manifests "
                    f"needed to resolve version {head} were cleaned up; "
                    f"re-read and re-apply the {action}"
                )
            if self.snapshot(head) != snap or self.dv_map(head) != dvm:
                raise CommitConflict(
                    "a concurrent data commit landed after this "
                    f"{action}'s inputs were read; re-read and "
                    f"re-apply the {action}"
                )

        return _validate

    def _tagged_undeleted(
        self,
        spark: SparkSession,
        snap: dict,
        dvm: dict[str, str],
        *,
        merge_schema: bool = False,
    ):
        """(tagged, active): the UNDELETED rows of ``snap`` with their
        (``__file``, ``__pos``) row identity attached — the
        predicate-evaluation view shared by the merge-on-read
        DELETE/UPDATE paths — plus the active vector map restricted to
        the snapshot's files."""
        from pyspark.sql import functions as F

        names = list(snap)
        names_set = set(names)
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        tagged = reader.parquet(
            *[os.path.join(self.table_dir, n) for n in names]
        ).select(
            "*",
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        )
        active = {n: d for n, d in dvm.items() if n in names_set}
        if active:
            old = self._read_dv_rows(spark, active)
            tagged = tagged.join(
                F.broadcast(
                    old.select(
                        F.col("file").alias("__file"),
                        F.col("pos").alias("__pos"),
                    )
                ),
                ["__file", "__pos"],
                "left_anti",
            )
        return tagged, active

    def _cumulative_dv(
        self,
        spark: SparkSession,
        matches: DataFrame,
        active: dict[str, str],
        caller: str,
        max_dv_rows: int | None,
        base_counts: dict[str, int],
    ):
        """(affected files, match count, cumulative sidecar frame,
        per-file row totals) for a (file, pos) match set: unions the
        affected files' previous vectors in (entries REPLACE per file,
        so each new vector must be cumulative) and ENFORCES the
        smallness contract ``_scan_files`` broadcasts on: total active
        dv rows AFTER this commit — the new sidecar
        plus the untouched files' vectors — must fit the broadcast
        budget, or every future read's anti-join degrades. Rejected
        BEFORE anything lands.

        The totals are EXACT driver arithmetic: new matches cannot
        overlap a file's previous vector (the predicate evaluates over
        the undeleted view), so per-file total = recorded old total +
        new matches. ``base_counts`` is :meth:`dv_row_counts` at the
        operation's base; only files with an active vector but NO
        recorded count (legacy/partial-restore commits) cost a
        one-time sidecar count here. Returns (None, 0, None, None)
        when nothing matched."""
        from pyspark.sql import functions as F

        # bounded: one row per AFFECTED FILE (never per row)
        per_file = (
            matches.groupBy("file").agg(F.count(F.lit(1)).alias("n")).collect()
        )
        if not per_file:
            return None, 0, None, None
        new_n = {r["file"]: int(r["n"]) for r in per_file}
        affected = sorted(new_n)
        affected_set = set(affected)
        n_rows = sum(new_n.values())
        new_dv = matches
        carry = {n: d for n, d in active.items() if n in affected_set}
        if carry:
            new_dv = new_dv.unionByName(
                self._read_dv_rows(spark, carry)
            ).distinct()
        limit = (
            self._dv_row_limit(spark) if max_dv_rows is None
            else int(max_dv_rows)
        )
        old_counts = dict(base_counts)
        unknown = {n: d for n, d in active.items() if n not in old_counts}
        if unknown:
            for r in (
                self._read_dv_rows(spark, unknown)
                .groupBy("file")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            ):
                old_counts[r["file"]] = int(r["n"])
        new_totals = {
            f: old_counts.get(f, 0) + n for f, n in new_n.items()
        }
        total_dv_rows = sum(new_totals.values()) + sum(
            old_counts.get(f, 0) for f in active if f not in affected_set
        )
        if total_dv_rows > limit:
            raise ValueError(
                f"{caller}: this operation would leave "
                f"{total_dv_rows} active deletion-vector rows "
                f"(> {limit}); a change touching this many rows belongs "
                "on the copy-on-write path — use delete_where / "
                "merge_upsert, or purge_deletes to materialize the "
                "existing vectors first"
            )
        return affected, int(n_rows), new_dv, new_totals

    def update_where_dv(
        self,
        spark: SparkSession,
        predicate_sql: str,
        set_exprs: dict[str, str],
        *,
        txn: tuple[str, int] | None = None,
        merge_schema: bool = False,
        max_dv_rows: int | None = None,
    ) -> int:
        """Merge-on-read UPDATE — the other half of Delta's deletion-
        vector protocol: in ONE
        atomic commit, mark every matching row's position deleted in
        its file's vector AND append the updated versions of those
        rows — no touched data file is rewritten, so an update hitting
        a handful of rows spread across thousands of 100 TB-table
        files costs one sidecar write plus one small append instead of
        rewriting every touched file (the copy-on-write
        ``merge_upsert`` cost). Readers see the update atomically:
        the manifest that activates the vector is the manifest that
        adds the new rows.

        ``set_exprs`` maps column name -> SQL expression evaluated
        over the matching rows (``{"price": "price * 1.1"}``); every
        key must be an existing column. Updated rows pass CHECK
        constraint enforcement BEFORE anything lands, with the same
        ``constraints_epoch`` CAS arm every write path carries.
        Concurrency, ``merge_schema`` and the ``max_dv_rows``
        smallness guard are exactly ``delete_where_dv``'s."""
        from pyspark.sql import functions as F

        base = self.latest_version()
        snap = self.snapshot(base)
        if not snap:
            raise ValueError(f"table {self.table_dir} has no committed data")
        dvm = self._dv_map_checked(base)
        _validate = self._strict_dv_validator(base, snap, dvm, "update")
        tagged, active = self._tagged_undeleted(
            spark, snap, dvm, merge_schema=merge_schema
        )
        data_cols = [c for c in tagged.columns if c not in ("__file", "__pos")]
        unknown = sorted(set(set_exprs) - set(data_cols))
        if unknown:
            raise ValueError(
                f"update_where_dv: SET targets {unknown} are not columns "
                f"of the table (have {data_cols})"
            )
        # LOCAL persist: the matched rows feed the constraints
        # aggregate, the position marking AND the postimage append —
        # ONE materialization guarantees the deleted positions and the
        # appended rows describe the same row set even for a
        # non-bit-deterministic predicate, and the full-table
        # predicate scan runs once, not once per consumer. Every
        # consumer materializes inside this method, so the cache is
        # released before returning.
        matched = tagged.filter(F.expr(predicate_sql)).persist()
        try:
            updated = matched.select(
                *[
                    F.expr(set_exprs[c])
                    .cast(tagged.schema[c].dataType)
                    .alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in data_cols
                ]
            )
            cepoch = self._enforce_constraints(updated)
            positions = matched.select(
                F.col("__file").alias("file"), F.col("__pos").alias("pos")
            )
            affected, rows_updated, new_dv, dv_rows = self._cumulative_dv(
                spark,
                positions,
                active,
                "update_where_dv",
                max_dv_rows,
                self.dv_row_counts(base),
            )
            if not affected:
                return self.commit(
                    op="update_dv",
                    txn=txn,
                    validate=_validate,
                    constraints_epoch=cepoch,
                )
            dv_name = self._land_dv_file(new_dv)
            adds = self._land_files(updated)
            return self.commit(
                add=adds,
                op="update_dv",
                stats=self._file_stats(spark, adds),
                txn=txn,
                validate=_validate,
                constraints_epoch=cepoch,
                extra={
                    "dv": {f: dv_name for f in affected},
                    "dv_rows": dv_rows,
                    "rows_updated": int(rows_updated),
                },
            )
        finally:
            matched.unpersist()

    def _land_dv_file(self, dv_rows: DataFrame) -> str:
        """Land a (file, pos) frame as ONE immutable dv sidecar parquet
        (vectors are small by contract — see _scan_files); uncommitted
        sidecars are vacuum-swept orphans like any staged data file."""
        staging = os.path.join(self.table_dir, f".staging-{uuid.uuid4().hex}")
        dv_rows.select("file", "pos").coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = next(
            p for p in sorted(os.listdir(staging)) if p.endswith(".parquet")
        )
        name = f"dv-{uuid.uuid4().hex}.parquet"
        os.rename(
            os.path.join(staging, part), os.path.join(self.table_dir, name)
        )
        shutil.rmtree(staging)
        return name

    def compact_dv(self, spark: SparkSession) -> int | None:
        """Pack every active deletion vector into ONE sidecar — the
        DV-side OPTIMIZE: a long run of small merge-on-read deletes
        leaves one tiny sidecar per commit, and every subsequent read
        opens all of them to build the anti-join side. This rewrites
        NO data file and changes NO row content (each file's new
        vector is byte-for-byte the position set it replaces, just
        co-located), so the change feeds skip it and time travel is
        unaffected; the superseded sidecars become vacuumable once no
        retained version references them. Returns the commit version,
        or None when fewer than two sidecars are active (nothing to
        pack). OCC is the strict net-state check: the packed rows
        were read at base, so any data/dv racer invalidates them."""
        base = self.latest_version()
        snap = self.snapshot(base)
        dvm = self._dv_map_checked(base)
        active = {n: d for n, d in dvm.items() if n in snap}
        if len(set(active.values())) < 2:
            return None
        _validate = self._strict_dv_validator(base, snap, dvm, "dv compaction")
        name = self._land_dv_file(self._read_dv_rows(spark, active))
        counts = {
            f: n
            for f, n in self.dv_row_counts(base).items()
            if f in active
        }
        missing = {n: d for n, d in active.items() if n not in counts}
        if missing:
            from pyspark.sql import functions as F

            for r in (
                self._read_dv_rows(spark, missing)
                .groupBy("file")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            ):
                counts[r["file"]] = int(r["n"])
        return self.commit(
            op="dv_compact",
            validate=_validate,
            extra={
                "dv": {f: name for f in active},
                "dv_rows": counts,
            },
        )

    def purge_deletes(self, spark: SparkSession) -> int | None:
        """Materialize every active deletion vector: rewrite ONLY the
        DV'd files without their deleted rows (copy-on-write, the
        OPTIMIZE-side of the merge-on-read bargain — readers stop
        paying the anti-join and the sidecars become vacuumable).
        Returns the commit version, or None when no vectors are active.
        Conflict rules are delete_where_dv's strict check: the rewrite
        re-reads content, so any concurrent data commit invalidates
        it."""
        base = self.latest_version()
        dvm = self._dv_map_checked(base)
        snap = self.snapshot(base)
        affected = sorted(n for n in dvm if n in snap)
        if not affected:
            return None

        _validate = self._strict_dv_validator(base, snap, dvm, "purge")

        clean = self._scan_files(spark, affected, dvm=dvm)
        adds = self._land_files(clean)
        return self.commit(
            add=adds,
            remove=affected,
            op="purge",
            stats=self._file_stats(spark, adds),
            validate=_validate,
        )

    def replace_where(
        self,
        spark: SparkSession,
        df: DataFrame,
        key_between: tuple,
        *,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Atomic partition overwrite (Delta's ``replaceWhere`` / the
        INSERT OVERWRITE PARTITION shape): in ONE commit, drop every
        stored row of the ``stats_col`` range [lo, hi] and add ``df``'s
        rows instead — the idempotent-backfill primitive (re-running a
        day's pipeline replaces that day wholesale; no delete+append
        window where readers see neither). Rows of ``df`` OUTSIDE the
        range, NULL keys included, are rejected up front: silently
        writing them would corrupt ranges this commit never claimed to
        touch.

        Copy-on-write + OCC exactly as delete_where: only
        envelope-intersecting files rewrite (their out-of-range rows
        are carried over), and a racer appending INTO the range between
        validation and CAS raises CommitConflict on the retry loop."""
        if self.stats_col is None:
            raise ValueError(
                "replace_where requires a stats_col-configured table"
            )
        cepoch = self._enforce_constraints(df)
        lo, hi = key_between
        outside = self._outside(key_between)
        if self.stats_col in df.columns and df.filter(outside).limit(1).count():
            raise ValueError(
                f"replace_where: incoming rows fall outside "
                f"[{lo}, {hi}] on {self.stats_col!r}"
            )
        return self._rewrite(
            spark,
            op="replace",
            target="replaced range",
            action="replace",
            where={"key_between": key_between},
            keep=lambda existing: existing.filter(outside),
            incoming=df,
            txn=txn,
            constraints_epoch=cepoch,
        )

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        *,
        key_between: tuple | None = None,
        col_between: dict[str, tuple] | None = None,
        key_eq=None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Snapshot read (time travel when ``version`` is given): the
        plan scans EXACTLY the snapshot's file list, so later commits —
        including compactions that logically remove these files — cannot
        change or break this frame.

        ``key_between=(lo, hi)`` additionally FILE-SKIPS via the
        manifest stats (files whose [min, max] envelope misses the range
        are never opened — see ``pruned_file_count``) and applies the
        residual BETWEEN filter, which parquet row-group pruning then
        pushes inside the surviving files.

        ``col_between={col: (lo, hi), ...}`` is the MULTI-column form
        over the ``extra_stats_cols`` envelopes: a file is skipped when
        ANY constrained column's recorded envelope misses its range
        (files lacking an envelope for a column are conservatively
        kept). With an ``optimize_zorder`` layout on the constrained
        columns, every surviving file owns a compact Z-range bounding
        both dimensions — this is what makes a 2-D box predicate prune
        at the MANIFEST level, before any parquet footer opens.

        ``key_eq=value`` is the POINT-LOOKUP form over the per-file
        Bloom bitsets (``bloom_col`` tables): files whose bitset misses
        any probe bit are never opened — exact-build blooms have no
        false negatives, and the residual equality filter absorbs false
        positives. Range stats cannot serve point lookups on a column
        the table is not range-laid-out on; the bloom does.

        ``merge_schema=True`` unions the per-file schemas (parquet
        mergeSchema): columns added by later appends read as NULL in
        older files — additive schema evolution without rewriting
        history, as in every table format."""
        snap = self.snapshot(version)
        if not snap:
            raise ValueError(
                f"table {self.table_dir} has no committed data"
                + (f" at version {version}" if version is not None else "")
            )
        if (key_between is not None or col_between) and self.stats_col is None:
            raise ValueError(
                "key_between/col_between require a stats_col-configured table"
            )
        if key_eq is not None and self.bloom_col is None:
            raise ValueError("key_eq requires a bloom_col-configured table")
        from pyspark.sql import functions as F

        probe = None if key_eq is None else self._bloom_positions(spark, key_eq)
        names = self._select_files(
            snap, key_between=key_between, col_between=col_between, probe=probe
        )
        # deletion vectors active at THIS snapshot are subtracted at scan
        # time (merge-on-read); time travel to a pre-delete version sees
        # the rows because that version's dv map lacks the vector. Every
        # file pruned: still scan the full file list, so the frame has
        # the SAME schema a non-empty read would have (merge_schema
        # honored) and shard unions don't diverge
        df = self._scan_files(
            spark,
            names or list(snap),
            merge_schema=merge_schema,
            dvm=self._dv_map_checked(version),
        )
        if not names:
            return df.filter(F.lit(False))
        if key_between is not None and self.stats_col in df.columns:
            df = df.filter(F.col(self.stats_col).between(*key_between))
        for c, (lo, hi) in (col_between or {}).items():
            if c in df.columns:
                df = df.filter(F.col(c).between(lo, hi))
        if key_eq is not None and self.bloom_col in df.columns:
            # residual: bloom skipping has false positives
            df = df.filter(F.col(self.bloom_col) == F.lit(key_eq))
        return df

    def read_changes(
        self,
        spark: SparkSession,
        *,
        since_version: int,
        until_version: int | None = None,
    ) -> DataFrame:
        """Incremental (change-feed) read: the rows ADDED by commits in
        ``(since_version, until_version]`` — what a downstream
        incremental job consumes instead of re-scanning the table
        (the append-side of Delta's change data feed).

        Contract: every commit in the range must be an APPEND (or a
        data-free ledger commit). Compaction and OPTIMIZE rewrites are
        fine BEFORE ``since_version`` (they don't change content), but
        a merge/delete/overwrite/compact INSIDE the range means added
        files are not new rows (rewrites re-add old rows) — full CDF
        needs row-level tracking this log does not do, so the read
        REFUSES loudly instead of double-counting.

        Range contract: versions beyond the current head are an EMPTY
        feed, not an error (a poller may run ahead of the writer) — so
        a cursor-advancing consumer must advance to the versions it
        actually RECEIVED (the head at read time), never to the
        ``until_version`` it merely requested."""
        head = self.latest_version()
        hi = head if until_version is None else until_version
        self._require_range_manifests(since_version, hi, "read_changes")
        adds: list[str] = []
        for v in self.versions():
            if v <= since_version or v > hi:
                continue
            m = self._manifest(v)
            # any data-carrying non-append invalidates the feed: adds
            # from a rewrite re-add old rows, a remove-only commit
            # (e.g. an overwrite to empty) changes content invisibly,
            # and a deletion-vector commit deletes rows with NO
            # add/remove at all — all three would corrupt the feed
            # dv_compact is content-neutral by construction (every new
            # vector equals the position set it replaces) — safe to
            # skip, like a data-free ledger commit
            if (m.get("add") or m.get("remove") or m.get("dv")) and m[
                "op"
            ] not in ("append", "dv_compact"):
                raise ValueError(
                    f"read_changes: commit {v} is op={m['op']!r}; only "
                    "append commits can be read as a change feed "
                    "(rewrites re-add existing rows)"
                )
            adds.extend(m.get("add", ()))
        if not adds:
            # empty feed with the newest available schema
            return self._empty_snapshot_frame(spark, hi)
        return spark.read.parquet(
            *[os.path.join(self.table_dir, n) for n in adds]
        )

    def _empty_snapshot_frame(self, spark: SparkSession, hi: int | None):
        """An EMPTY frame carrying the table's schema, for change-feed
        bases: the snapshot at ``hi`` when non-empty, else the newest
        non-empty snapshot at-or-below it whose files are still on
        disk (an overwritten-to-empty table still has the schema its
        consumers compiled against, but vacuum may have reclaimed an
        older snapshot's files — planning a read over those would
        raise on a LEGAL empty feed), else a zero-column empty
        frame."""
        for v in reversed(
            [v for v in self.versions() if hi is None or v <= hi]
        ):
            snap = self.snapshot(v)
            if snap and all(
                os.path.exists(os.path.join(self.table_dir, n))
                for n in snap
            ):
                return self.read(spark, v).filter("1 = 0")
        return spark.range(0).select()

    def _require_range_manifests(
        self, lo: int, hi: int | None, caller: str
    ) -> None:
        """Change feeds replay the EXACT commit sequence in (lo, hi]:
        a manifest missing from the range (cleanup below a checkpoint)
        means the feed cannot be reconstructed — iterating only the
        surviving manifests would silently drop that commit's changes,
        so refuse loudly instead. ``hi`` None (empty log) or a range
        entirely above the head checks nothing: versions that never
        existed are an empty feed, not a cleanup."""
        head = self.latest_version()
        if hi is None or head is None:
            return
        have = set(self.versions())
        missing = [
            v for v in range(lo + 1, min(hi, head) + 1) if v not in have
        ]
        if missing:
            raise ValueError(
                f"{caller}: manifests {missing} in the requested range "
                "were cleaned up; the change feed cannot be reconstructed "
                "— consume feeds before checkpoint-cleanup retention, or "
                "re-read the full snapshot"
            )

    def read_changes_cdf(
        self,
        spark: SparkSession,
        *,
        since_version: int,
        until_version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Row-level change feed (Delta's CDF shape): every commit in
        ``(since_version, until_version]`` rendered as rows carrying
        ``_change_type`` ('insert' | 'delete' | 'update_preimage' |
        'update_postimage') and ``_commit_version`` — lifting
        :meth:`read_changes`' documented refusal for the
        DELETION-VECTOR case: a dv commit's
        row-level deletes ARE trackable, because the file's new
        cumulative vector minus its previous vector identifies exactly
        the positions that commit deleted, and their content is still
        in the immutable data files (merge-on-read never rewrites, and
        vacuum keeps files any retained version references). Supported
        in-range ops: ``append`` (insert), ``delete_dv`` (delete),
        ``update_dv`` (update_preimage for the marked positions +
        update_postimage for the appended rows) and data-free ledger
        commits; rewriting commits (compact/merge/delete/replace/
        overwrite/purge/zorder/restore) still refuse loudly — their
        adds re-add existing rows, which full CDF cannot disentangle
        without per-commit row tracking this log does not do.

        Plan shape: manifest analysis is driver-side O(commits in
        range) like history(); the DATA plane is three bounded scans —
        appended files, dv sidecars, dv'd data files — each joined
        against a broadcast literal map (never a per-commit DataFrame
        union loop), with the position-delta resolved as ONE
        (version, file, pos) group-by over sidecar rows. The dv side
        is broadcast under the same smallness contract
        ``delete_where_dv`` enforces.

        Range contract (same as read_changes): versions beyond the
        current head are an EMPTY feed, not an error — consumers
        advance their cursor to the max ``_commit_version`` actually
        delivered, never to the requested ``until_version``."""
        from pyspark.sql import functions as F

        head = self.latest_version()
        hi = head if until_version is None else until_version
        self._require_range_manifests(since_version, hi, "read_changes_cdf")
        # a base at-or-beyond the head means an empty range: versions
        # that never existed have no dv state to resolve (mirrors
        # read_changes' empty-feed semantics)
        resolvable = (
            head is not None and 0 <= since_version <= head
        )
        if resolvable and not self._view_complete(since_version, "dvs"):
            raise ValueError(
                "read_changes_cdf: dv state at the range base "
                f"{since_version} cannot be resolved (manifests cleaned "
                "up without a dvs-bearing checkpoint)"
            )
        # running dv state BEFORE each commit (dv_map replay rules)
        run_dvm = dict(self.dv_map(since_version)) if resolvable else {}
        add_map: list[tuple[str, int, str]] = []
        dv_events: list[tuple[int, str, str, str | None]] = []
        vmap: dict[int, str] = {}
        for v in self.versions():
            if v <= since_version or v > hi:
                continue
            m = self._manifest(v)
            op = m["op"]
            dv = {f: d for f, d in (m.get("dv") or {}).items() if d}
            if op == "append":
                for f in m.get("add", ()):
                    add_map.append((f, v, "insert"))
            elif op in ("delete_dv", "update_dv"):
                vmap[v] = (
                    "delete" if op == "delete_dv" else "update_preimage"
                )
                for f, d in dv.items():
                    dv_events.append((v, f, d, run_dvm.get(f)))
                if op == "update_dv":
                    for f in m.get("add", ()):
                        add_map.append((f, v, "update_postimage"))
            elif op == "dv_compact":
                # content-neutral repack: every new vector equals the
                # position set it replaces, so the per-commit delta is
                # empty by construction — skip, but the replay below
                # still advances the running dv state
                pass
            elif m.get("add") or m.get("remove") or dv:
                raise ValueError(
                    f"read_changes_cdf: commit {v} is op={op!r}; only "
                    "append / delete_dv / update_dv commits are row-level "
                    "trackable (rewrites re-add existing rows)"
                )
            for f in m.get("remove", ()):
                run_dvm.pop(f, None)
            for f in m.get("add", ()):
                run_dvm.pop(f, None)
            for f, d in (m.get("dv") or {}).items():
                if d is None:
                    run_dvm.pop(f, None)
                else:
                    run_dvm[f] = d
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        parts: list[DataFrame] = []
        if add_map:
            amap = spark.createDataFrame(
                add_map,
                "__file string, _commit_version bigint, _change_type string",
            )
            rows = reader.parquet(
                *sorted(
                    os.path.join(self.table_dir, f) for f, _, _ in add_map
                )
            ).select(
                "*",
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("__file"),
            )
            parts.append(
                rows.join(F.broadcast(amap), "__file").drop("__file")
            )
        if dv_events:
            pairs = [(v, f, s, "new") for v, f, s, _ in dv_events] + [
                (v, f, o, "old") for v, f, _, o in dv_events if o
            ]
            pdf = spark.createDataFrame(
                pairs, "v bigint, file string, src string, role string"
            )
            dvr = spark.read.parquet(
                *sorted({os.path.join(self.table_dir, p[2]) for p in pairs})
            ).select(
                "file",
                "pos",
                F.element_at(
                    F.split(F.input_file_name(), "/"), -1
                ).alias("src"),
            )
            # per (version, file): positions in the new vector that are
            # NOT in the file's previous vector = the rows THAT commit
            # deleted/updated (vectors are cumulative, entries replace)
            delta = (
                dvr.join(F.broadcast(pdf), ["file", "src"])
                .groupBy("v", "file", "pos")
                .agg(
                    F.max(F.col("role") == "new").alias("has_new"),
                    F.max(F.col("role") == "old").alias("has_old"),
                )
                .filter(F.col("has_new") & ~F.col("has_old"))
                .select("v", "file", "pos")
            )
            data = reader.parquet(
                *sorted(
                    {
                        os.path.join(self.table_dir, f)
                        for _, f, _, _ in dv_events
                    }
                )
            ).select(
                "*",
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("__file"),
                F.col("_metadata.row_index").alias("__pos"),
            )
            cmap = spark.createDataFrame(
                sorted(vmap.items()),
                "_commit_version bigint, _change_type string",
            )
            rows = (
                data.join(
                    F.broadcast(
                        delta.select(
                            F.col("file").alias("__file"),
                            F.col("pos").alias("__pos"),
                            F.col("v").alias("_commit_version"),
                        )
                    ),
                    ["__file", "__pos"],
                )
                .join(F.broadcast(cmap), "_commit_version")
                .drop("__file", "__pos")
            )
            parts.append(rows)
        if not parts:
            return (
                self._empty_snapshot_frame(spark, hi)
                .withColumn("_change_type", F.lit("").cast("string"))
                .withColumn("_commit_version", F.lit(0).cast("bigint"))
                .filter("1 = 0")
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def pruned_file_count(
        self, key_between: tuple, version: int | None = None
    ) -> tuple[int, int]:
        """(files opened, files total) for a stats-pruned range read —
        the manifest-level I/O measurement."""
        snap = self.snapshot(version)
        return len(self._select_files(snap, key_between=key_between)), len(snap)

    def pruned_file_count_multi(
        self, col_between: dict[str, tuple], version: int | None = None
    ) -> tuple[int, int]:
        """(files opened, files total) for a multi-column manifest-
        pruned read: a file survives only if EVERY constrained column's
        recorded envelope intersects its range (missing envelopes keep
        the file conservatively)."""
        snap = self.snapshot(version)
        return len(self._select_files(snap, col_between=col_between)), len(snap)

    def vacuum(
        self, *, keep_versions: int = 2, grace_seconds: float = 600.0
    ) -> list[str]:
        """Delete data files unreferenced by ALL of the last
        ``keep_versions`` snapshots (plus stray staging/manifest temps).
        Readers may hold any retained snapshot; single-vacuum-at-a-time
        is assumed (the compactor owns it), as in every table format's
        retention story. Returns the deleted names.

        ``grace_seconds`` protects IN-FLIGHT writers: a file landed but
        not yet committed is unreferenced by every manifest, and a
        zero-grace vacuum racing such a writer would delete data whose
        commit is about to succeed — corrupting the table. Anything
        younger than the grace window is left alone (Delta's
        retention-hours check, scaled down); pass 0 only when no writer
        can be active (tests, single-process pipelines)."""
        import time

        now = time.time()

        def _young(path: str) -> bool:
            try:
                return now - os.path.getmtime(path) < grace_seconds
            except OSError:
                return True  # vanished or unreadable: do not touch
        vs = self.versions()
        retained = vs[-keep_versions:] if keep_versions > 0 else vs[-1:]
        referenced: set[str] = set()
        for v in retained:
            referenced.update(self.files(v))
            # active deletion-vector sidecars are part of the retained
            # snapshots' read state; a replaced/retired vector becomes
            # unreferenced and is reclaimed like any rewritten data file
            referenced.update(self._dv_map_checked(v).values())
        deleted = []
        for name in os.listdir(self.table_dir):
            full = os.path.join(self.table_dir, name)
            if name == "_log":
                continue
            if name.startswith(".staging-"):
                if not _young(full):
                    shutil.rmtree(full, ignore_errors=True)
                    deleted.append(name)
            elif name.endswith(".parquet") and name not in referenced:
                if not _young(full):
                    os.unlink(full)
                    deleted.append(name)
        for name in os.listdir(self.log_dir):
            if name.startswith(".tmp-"):
                full = os.path.join(self.log_dir, name)
                if not _young(full):
                    os.unlink(full)
        return deleted
