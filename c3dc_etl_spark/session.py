"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; unset, that is the
host's core count (``os.cpu_count()``, or 8 where it is unknown), so the
session's parallelism differs from host to host. Task counts may follow
it (``spark.sql.shuffle.partitions`` below, ``operators.dedup.spread``,
``operators.sampling``); what a write leaves on disk may not: the files
a table-log landing writes are counted from data volume
(``TableLog._land_files``). The same settings are cluster-safe. Every
knob here is a scale decision:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting means
  one static ``spark.sql.shuffle.partitions`` works from sf0.001 to 100 TB.
- ANSI off: the engine's semantics (reference parity) are "invalid cast ->
  null + warn", not "error" (SURVEY.md V21; reference
  etl/target/c3dc_etl.py:1330-1344). Query code still uses try_* variants
  so it stays correct under a foreign ANSI-on session.
- Arrow on: every Python<->JVM handoff (pandas UDFs, toPandas) is batched.
- Generated-code cache of 4096 classes
  (``spark.sql.codegen.cache.maxEntries``; Spark's default is 100). A
  study run compiles more classes than 100, so at the default each run
  evicted what the next one needed and recompiled it. Compiles per
  operation of the perfbench workloads, read from ``CodegenMetrics``
  before and after each operation (4 cores, seed 7, first operation
  then warm ones): study_document 196, then 161-162 each at 100
  entries vs 176, then 0-18 at 4096; merge_publish 659, then 644-648
  vs 416, then 0-28; operator_suite 93, then 51 vs 93, then 0.
  ``extra_conf`` overrides it like any other setting.
- DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). PySpark 4.1
  wraps every ``Column`` method and ``functions.*`` call in
  ``pyspark.errors.utils._with_origin``, which walks the Python stack
  and sends the call site to the JVM: 5-10 extra driver<->JVM round
  trips per call (warm, ``F.lit(1).alias("x")`` costs 14 with capture
  and 4 without, ``F.col("a")`` 13 and 3; ``F.expr`` is not wrapped
  and costs 3 either way). Where IPython is installed it is imported into
  the driver, and a failing ``import ipykernel`` is retried on every
  call. Warm perfbench operations (4 cores, seed 51; round trips
  counted by wrapping py4j's ``GatewayClient.send_command``) made
  8,394-8,427 round trips with capture on and 4,881-4,912 with it off
  on study_document, 10,768-10,996 vs 5,884-5,986 on merge_publish;
  driver peak RSS fell 182.6 -> 160.3 MB and 175.0 -> 153.2 MB. The
  cost: a Spark analysis error loses its "== DataFrame ==" Python
  call-site fragment; the engine's own error messages do not change.
  PySpark reads the value once per Python process
  (``is_debugging_enabled`` caches it), from the session active at the
  first Column call, so it must be set when the session is built.
  ``extra_conf`` overrides it like any other setting.

Note on ``spark.sql.legacy.parquet.nanosAsLong``: the suite's events
loader (suite/registry.py ``read_events_parquet``) sets it ONLY when a
plain read fails with the nanos-timestamp incompatibility — and then it
stays set for the session (the conf is consulted again at scan
execution, so it cannot be restored before the caller collects). A
session that never touches nanos parquet keeps a pristine conf; one
that does would want the conf anyway.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")
R = TypeVar("R")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


# cgroup memory limit files: v2, then v1. v2 writes "max" for no limit;
# v1 writes a page-rounded 2**63 - 1.
CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)
_NO_LIMIT_BYTES = 1 << 60


def memory_limit_bytes(
    meminfo: str = "/proc/meminfo", cgroup_limits: tuple[str, ...] = CGROUP_MEMORY_LIMITS
) -> int:
    """Memory this process may use: the minimum of the host's MemTotal
    and every readable cgroup limit, in bytes; 0 when none is known. A
    cgroup limit of ``max`` or of 2**60 bytes and above means no limit."""
    limits = []
    try:
        with open(meminfo) as fh:
            for ln in fh:
                if ln.startswith("MemTotal:"):
                    limits.append(int(ln.split()[1]) * 1024)
                    break
    except OSError:  # pragma: no cover — non-Linux host
        pass
    for path in cgroup_limits:
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit() and int(raw) < _NO_LIMIT_BYTES:
            limits.append(int(raw))
    return min((v for v in limits if v > 0), default=0)


def _default_driver_mem() -> str:
    """Local-mode driver heap default: ~45% of the memory this process
    may use (``memory_limit_bytes``: host RAM or the container's cgroup
    limit, whichever is smaller), capped at 48g, floored at 4g (ADVICE
    r12 #3: a hard 48g default sized to the 128 GiB bench box would fail
    JVM startup or swap on smaller hosts). On the 128 GiB box this still
    derives 48g — the bench-comparable value round 12 measured (zero
    Full GCs, ~28.7 GB peak used). Override with SPARK_DRIVER_MEM."""
    total = memory_limit_bytes()
    if total <= 0:
        return "4g"
    return f"{max(4, min(48, (total * 45) // (100 * 1024**3)))}g"


def get_spark(app_name: str = "c3dc-etl-spark", **extra_conf: str) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # reducer count stays = cores here: raising AQE
        # initialPartitionNum session-wide was measured (r9) to cost
        # +40-150% on iterative queries (pagerank 4.8 -> 11.9s,
        # k-core 4.9 -> 9.5s at 2x cores; headline wall 57 -> 80s) —
        # local-mode per-task overhead dominates their many small
        # per-iteration shuffles. The x5 scale probes, whose heavy
        # single shuffles DO spill at fixed-cores reducers (triangle
        # census: 1.83x-per-unit wall), set it temporarily in the
        # probe context instead (bench.py scale_check, bench_sweep
        # --scale) — the bytes-aware sizing a real cluster gives a 5x
        # corpus, applied to BOTH sides of the ratio.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode-only knob (a cluster sizes executors independently):
        # in local[32] the driver heap IS the executor heap for all 32
        # task threads. 16g was marginal for the round-9 scale cohort —
        # a triangle-census x5 SortMergeJoin OOMed at ~3300 stages into
        # a bench session. Round 12 re-measured: a full bench session's
        # G1 heap peaks at ~28.7 GB USED (-Xlog:gc, headline+rotation at
        # sf0.1) — ABOVE the former 24g cap, and 24g sessions showed the
        # matching symptom: persistent mid-session 5-10x walls on
        # allocation-heavy queries (dedup_containment 36s vs 4s,
        # collect spikes to 47s) while a 48g session ran the same code
        # with 216 young pauses totalling 5.2s, max 397ms, zero Full
        # GCs, and no persistent degradation. 48g keeps ~60% of the
        # 128 GiB box free; on smaller hosts the default derives from
        # host RAM or the cgroup limit instead (_default_driver_mem);
        # override via SPARK_DRIVER_MEM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # one study run compiles ~160 generated classes (~650 with a
        # merge); the default 100-entry cache evicted them between
        # runs — see the module docstring
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # no per-Column call-site capture — see the module docstring
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def run_concurrently(spark: SparkSession, fn: Callable[[T], R], items: Iterable[T]) -> list[R]:
    """``[fn(x) for x in items]``, one thread per item, so independent
    small Spark actions share the executors instead of queueing. Each
    thread inherits the caller's job group and local properties. Results
    keep input order; the first failure in input order is re-raised once
    every thread has finished."""
    items = list(items)
    if not items:
        return []
    with ThreadPoolExecutor(max_workers=len(items)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn), x) for x in items]
    return [f.result() for f in futures]
