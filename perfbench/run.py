"""Benchmark runner: one closed-loop client, one workload per process.

    python3 perfbench/run.py --workload study_document --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. The run starts a local Spark
session on every core, builds the workload's inputs from ``--seed``,
computes the expected results with DuckDB, and runs one untimed warm-up
operation: together that is the set-up. It then repeats operations (the
next starting when the previous ends) for ``--seconds``, and at least
MIN_OPS of them, and checks every output against the oracle.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced operations and reports the per-layer metrics from
the traced ones; it also writes their spans to
``.perfbench_work/spans-<workload>-<seed>.json``. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. A summary with sample counts goes to
standard error. See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
sys.path.insert(0, str(ROOT))

from perfbench.suite import SUITE_QUERIES  # noqa: E402 — needs ROOT on sys.path

# Fewest measured operations per run, even past --seconds. A third
# operation halved the run-to-run spread of merge_publish; on the other
# workloads it did not narrow it, and the run budget has no room for it
# (see README.md, "Steadiness"). With --trace 1, MIN_TRACED traced
# operations plus one untraced one (for the tracing overhead) are
# enough: the per-layer metrics carry no bound.
MIN_OPS = {"merge_publish": 3}
MIN_OPS_DEFAULT = 2
MIN_TRACED = 2
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "driver_rss_peak_mb": "MB",
}

# Per-layer metrics. ``<span>.s`` / ``<span>_s`` is span self time; the
# counters are Spark status-store totals of the jobs the span launched.
PER_LAYER = {
    "sources.s": "s",
    "sources.jobs": "count",
    "sources.tasks": "count",
    "mapping.s": "s",
    "plans.run_study_s": "s",
    "plans.run_study_jobs": "count",
    "harmonize.s": "s",
    "rowmapped.s": "s",
    "link.s": "s",
    "merge.s": "s",
    "merge.shuffle_write_mb": "MB",
    "merge.spill_mb": "MB",
    "validate.document_s": "s",
    "validate.document_cpu_s": "s",
    "validate.frames_s": "s",
    "validate.frames_tasks": "count",
    "validate.violations": "count",
    "sink.assemble_s": "s",
    "sink.assemble_jobs": "count",
    "sink.assemble_tasks": "count",
    "sink.records": "count",
    "sink.save_s": "s",
    "sink.write_s": "s",
    "sink.output_mb": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.peak_exec_mem_mb": "MB",
    "spark.scan_amplification": "ratio",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}
PER_LAYER.update({f"suite.{q}_s": "s" for q in SUITE_QUERIES})
PER_LAYER.update({"suite.tasks": "count", "suite.shuffle_write_mb": "MB"})


def _args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------- process


def _jvm_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    # utime and stime are fields 14 and 15 of stat(5); fields[0] is field 3
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _reset_rss_peak() -> None:
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def _rss_peak_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc/self/status")


def _start_spark(work: Path):
    """A local session on every core, with every scratch path inside
    ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    from c3dc_etl_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        **{
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work / 'derby'} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — the JVM must not outlive the run
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- metrics


def layer_metrics(spans: list[dict], result: dict, source_mb: float) -> dict[str, float]:
    """One traced operation's per-layer metrics from its spans (as
    ``Tracer.to_json`` gives them) and its result."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    totals: dict[str, float] = {}
    for s in spans:
        c = s["counters"]
        for k, v in c.items():
            totals[k] = max(totals.get(k, 0.0), v) if k == "peak_exec_mem_mb" else totals.get(k, 0.0) + v
        if s["parent"] is None:
            m["trace.unattributed_s"] += s["self_s"]
            continue
        sep = "_" if "." in s["name"] else "."
        values = {"s": s["self_s"], "cpu_s": s["cpu_s"], **c}
        for k, v in values.items():
            key = f"{s['name']}{sep}{k}"
            if key in m:
                m[key] += v
        if s["name"].startswith("suite."):
            m["suite.tasks"] += c.get("tasks", 0.0)
            m["suite.shuffle_write_mb"] += c.get("shuffle_write_mb", 0.0)
    for k in ("jobs", "tasks", "executor_cpu_s", "executor_run_s", "shuffle_write_mb",
              "spill_mb", "peak_exec_mem_mb"):
        m[f"spark.{k}"] = totals.get(k, 0.0)
    m["spark.scan_amplification"] = totals.get("input_mb", 0.0) / source_mb
    m["sink.records"] = float(result["records"])
    m["sink.output_mb"] = result["output_bytes"] / (1024 * 1024)
    m["validate.violations"] = float(result["violations"])
    return m


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


# ---------------------------------------------------------------- run


class Runner:
    def __init__(self, args: argparse.Namespace, work: Path):
        from perfbench import gen, oracle, workloads

        self.args = args
        self.work = work
        self.gen, self.oracle, self.workloads = gen, oracle, workloads
        self.op = workloads.WORKLOADS[args.workload]
        self.attempted = 0
        self.failed = 0
        self.first_sha: str | None = None

    def setup(self) -> float:
        w, seed = self.args.workload, self.args.seed
        t0 = time.perf_counter()
        self.spark = _start_spark(self.work)
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        session_s = time.perf_counter() - t0
        d = self.work / "inputs"
        t0 = time.perf_counter()
        params = self.gen.GENERATORS[w](seed, str(d))
        expected = self.oracle.EXPECTATIONS[w](str(d))
        inputs_s = time.perf_counter() - t0
        self.source_mb = self.gen.input_bytes(str(d)) / (1024 * 1024)
        self.want = self.workloads.expected_summary(w, expected)
        out = self.work / "out"
        out.mkdir()
        self.env = self.workloads.Env(self.spark, str(d), str(out), params)
        t0 = time.perf_counter()
        self.measure(None)  # warm-up; checked, not timed
        warm_s = time.perf_counter() - t0
        print(
            f"# setup: session {session_s:.2f}s, inputs+oracle {inputs_s:.3f}s, "
            f"warm-up {warm_s:.2f}s, source files {self.source_mb:.2f} MB",
            file=sys.stderr,
        )
        return session_s + inputs_s + warm_s

    def measure(self, tracer) -> dict | None:
        """One checked operation. Returns its sample, or None when it
        failed."""
        from perfbench.tracer import Tracer

        t = tracer or Tracer()
        n = self.workloads.OPERATIONS.get(self.args.workload, 1)
        self.attempted += n
        _reset_rss_peak()
        cpu0 = time.process_time() + _jvm_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            with t.span("op"):
                result = self.op(self.env, t)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            self.failed += n
            traceback.print_exc()
            return None
        wall = time.perf_counter() - t0
        cpu = time.process_time() + _jvm_cpu_s(self.jvm_pid) - cpu0
        rss = _rss_peak_mb()
        errors = self.workloads.check(result, self.want, self.first_sha)
        if self.first_sha is None:
            self.first_sha = result["sha256"]
        if errors:
            self.failed += min(len(errors), n)
            print(f"# check failed ({self.args.workload}): " + "; ".join(errors), file=sys.stderr)
            return None
        sample = {"wall_s": wall, "cpu_s": cpu, "driver_rss_peak_mb": rss}
        if t.enabled:
            t.read_counters()
            sample["spans"] = t.to_json()
            sample["layers"] = layer_metrics(sample["spans"], result, self.source_mb)
        return sample

    def loop(self) -> tuple[list[dict], list[dict]]:
        """Closed loop for --seconds: untraced operations, or with
        --trace 1 traced and untraced ones alternating."""
        from perfbench.tracer import Tracer

        plain: list[dict] = []
        traced: list[dict] = []
        min_ops = MIN_OPS.get(self.args.workload, MIN_OPS_DEFAULT)
        deadline = time.perf_counter() + self.args.seconds
        i = 0
        while True:
            if self.args.trace:
                enough = len(traced) >= MIN_TRACED and len(plain) >= 1
            else:
                enough = len(plain) >= min_ops
            if time.perf_counter() >= deadline and (enough or self.failed >= min_ops):
                break
            tracing = bool(self.args.trace) and i % 2 == 0
            tracer = Tracer(self.spark, enabled=True) if tracing else None
            sample = self.measure(tracer)
            i += 1
            if sample is not None:
                (traced if tracing else plain).append(sample)
        return plain, traced


def _report(name: str, unit: str, values: list[float]) -> None:
    q1, q2, q3 = _quartiles(values)
    print(
        f"# {name:28s} median {q2:.4f} {unit:5s} (q1 {q1:.4f}, q3 {q3:.4f}, n={len(values)}:"
        f" {' '.join(f'{v:.4g}' for v in values)})",
        file=sys.stderr,
    )


def run(args: argparse.Namespace, work: Path) -> dict:
    runner = Runner(args, work)
    try:
        setup_s = runner.setup()
        plain, traced = runner.loop()
    finally:
        if getattr(runner, "spark", None) is not None:
            _stop_spark(runner.spark)
    metrics: dict[str, dict] = {}
    if args.trace == 0:
        series = {"setup_s": [setup_s]}
        for k in ("wall_s", "cpu_s", "driver_rss_peak_mb"):
            series[k] = [s[k] for s in plain]
        for k, unit in END_TO_END.items():
            if series[k]:
                _report(k, unit, series[k])
                metrics[k] = {"value": statistics.median(series[k]), "unit": unit}
    else:
        if plain and traced:
            overhead = statistics.median(s["wall_s"] for s in traced) - statistics.median(
                s["wall_s"] for s in plain
            )
            for s in traced:
                s["layers"]["trace.overhead_s"] = overhead
        for k, unit in PER_LAYER.items():
            values = [s["layers"][k] for s in traced]
            if values:
                _report(k, unit, values)
                metrics[k] = {"value": statistics.median(values), "unit": unit}
        spans = [dict(span, op=i) for i, s in enumerate(traced) for span in s["spans"]]
        (WORK / f"spans-{args.workload}-{args.seed}.json").write_text(json.dumps(spans))
    print(f"# attempted {runner.attempted}, failed {runner.failed}", file=sys.stderr)
    return {
        "correct": runner.failed == 0 and bool(metrics),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    args = _args(argv)
    if not (ROOT / "c3dc_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: no c3dc_etl_spark package in {ROOT}; run from a source checkout",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
