"""Session helpers: memory-limit detection for the driver-heap default,
and the concurrent-action runner."""

from __future__ import annotations

import pytest

from c3dc_etl_spark.session import memory_limit_bytes, run_concurrently

GIB = 1024**3


def _meminfo(tmp_path, gib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {gib * 1024 * 1024} kB\nMemFree:        1024 kB\n")
    return str(p)


def _limit(tmp_path, name: str, text: str) -> str:
    p = tmp_path / name
    p.write_text(text + "\n")
    return str(p)


def test_memory_limit_is_min_of_host_and_cgroup(tmp_path):
    meminfo = _meminfo(tmp_path, 64)
    v2 = _limit(tmp_path, "memory.max", str(8 * GIB))
    assert memory_limit_bytes(meminfo, (v2,)) == 8 * GIB
    # a cgroup limit above host RAM does not raise the budget
    v1 = _limit(tmp_path, "memory.limit_in_bytes", str(128 * GIB))
    assert memory_limit_bytes(meminfo, (v1,)) == 64 * GIB
    # both files readable: the smaller limit wins
    assert memory_limit_bytes(meminfo, (v1, v2)) == 8 * GIB


def test_memory_limit_treats_unlimited_cgroup_as_no_limit(tmp_path):
    meminfo = _meminfo(tmp_path, 16)
    v2_max = _limit(tmp_path, "memory.max", "max")
    v1_unlimited = _limit(tmp_path, "memory.limit_in_bytes", "9223372036854771712")
    missing = str(tmp_path / "absent")
    assert memory_limit_bytes(meminfo, (v2_max,)) == 16 * GIB
    assert memory_limit_bytes(meminfo, (v1_unlimited,)) == 16 * GIB
    assert memory_limit_bytes(meminfo, (missing,)) == 16 * GIB
    # no MemTotal: the cgroup limit alone, or unknown
    assert memory_limit_bytes(missing, (_limit(tmp_path, "lim", str(3 * GIB)),)) == 3 * GIB
    assert memory_limit_bytes(missing, (v1_unlimited,)) == 0


def test_run_concurrently_keeps_input_order(spark):
    df = spark.range(50)
    cuts = [40, 5, 25, 0, 49]
    assert run_concurrently(spark, lambda c: df.filter(df.id >= c).count(), cuts) == [
        50 - c for c in cuts
    ]
    assert run_concurrently(spark, lambda c: c, []) == []


def test_run_concurrently_reraises_first_failure_in_input_order(spark):
    import time

    def fail(i: int) -> int:
        if i == 1:
            time.sleep(0.3)  # fails last in time, first in input order
            raise KeyError("first")
        if i == 3:
            raise ValueError("second")
        return i

    for _ in range(3):
        with pytest.raises(KeyError, match="first"):
            run_concurrently(spark, fail, range(5))


def test_session_turns_off_dataframe_call_site_capture(spark, monkeypatch):
    """PySpark's per-Column call-site capture costs driver<->JVM round
    trips on every Column call; get_spark turns it off, and PySpark's
    cached switch reads it from the active session."""
    import pyspark.errors.utils as errors_utils

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", None)
    assert errors_utils.is_debugging_enabled() is False
