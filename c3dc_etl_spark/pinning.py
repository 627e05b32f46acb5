"""Persist/unpersist hygiene for multi-consumer intermediates.

Operators like ``minhash_lsh_candidates`` persist() an expensive
intermediate (the signature table feeds 3+ consumers) but return a LAZY
DataFrame built on it — the operator cannot unpersist before its caller
materializes the result, so in a long-lived session running many queries
the pinned blocks would accumulate until LRU eviction churns.

Every such persist goes through :func:`pin`, which registers the frame
here; consumers call :func:`release_pinned` AFTER materializing a query.
The one exception is an eager ``localCheckpoint`` whose blocks live as
long as the returned frame (``merge.first_wins_merge``,
``operators/graph.py``): Spark's ContextCleaner frees them once the frame
is unreachable, so nothing registers or releases them here.
The suite wires this automatically: each registered query releases the
previous query's pins on entry (see ``suite.registry.query``), and
``bench.py`` releases after every collect. Releasing a REGISTERED pin is
correctness-safe — those are plain perf persists, so a late re-collect
just recomputes without the cache. Pins whose cached content is itself a
correctness device (range-boundary-sampled frames) opt out with
``releasable=False`` and stay for the session — see :func:`pin`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_PINNED: list[DataFrame] = []


def pin(
    df: DataFrame,
    level: StorageLevel | None = None,
    *,
    releasable: bool = True,
) -> DataFrame:
    """persist() ``df`` and register it for a later release_pinned().

    ``releasable=False`` persists WITHOUT registering: for frames whose
    pin is a CORRECTNESS device, not a perf one — e.g. the
    repartitionByRange intermediates of the two-phase numbering /
    cumulative-sum operators, where an unpersisted recompute re-samples
    range boundaries (different RDD id -> different sampling seed) and
    silently mis-aligns offsets with partition contents. A release
    between a consumer's plan-build and its collect would reintroduce
    that bug, so such pins stay for the session (they are small and
    bounded: one per in-flight numbering query)."""
    p = df.persist(level) if level is not None else df.persist()
    if releasable:
        _PINNED.append(p)
    return p


def release_pinned() -> int:
    """Unpersist every registered intermediate (blocking=False); returns
    the number released. Call after the consuming query has been
    materialized — releasing earlier is correctness-neutral (plain
    persists recompute) but forfeits the multi-consumer reuse win."""
    n = len(_PINNED)
    while _PINNED:
        _PINNED.pop().unpersist()
    return n


def pinned_count() -> int:
    return len(_PINNED)
