#!/usr/bin/env python3
"""Benchmark of the framework's ``run-all`` path.

    python3 perfbench/run.py --workload many_models --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process, one fresh SparkSession
(``local[nproc]``), one fresh run directory under ``.perfbench_runs/``
holding the warehouse, the Derby metastore, the state dir, Spark's
scratch space and the generated inputs; it is deleted at exit.

A run: set up (session + seeded inputs), one cold ``run-all`` invocation,
one warm-up invocation, then warm invocations until ``--seconds`` have
been measured (at least ``MIN_SAMPLES``), then the data-quality pass (the
CLI ``test`` command) and the output checks.  Every invocation goes through
the CLI entry point (``cli.main``), so it pays exactly what a ``dtps
run-all`` call pays after the session is up: config load, parse,
dependency sort, model execution, materialization, state saves.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
framework's layers from outside (perfbench/tracer.py), turns the Spark
event log on and prints the per-layer metrics.  The last line of stdout
is the result object; the line before it is a detail record (warm
samples, input sizes, JVM noise counters, phase times, failures).
perfbench/NOTES.md describes the workloads and metrics.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # set-up time is measured from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "data_transformation_python_spark"
WORKLOADS = ("many_models", "curation_funnel")
WARMUP = 1  # warm invocations run, but not measured, after the cold one
MIN_SAMPLES = 1  # warm invocations measured even if --seconds ran out
GEN_REPEATS = 3  # input generation is repeated; set-up reports the median
TRACE_PAIRS = 2  # traced runs: untraced/traced warm pairs, fixed count
DRIVER_MEMORY = "3g"
TRACE_DIR = ROOT / ".perfbench_runs" / "traces"  # span dumps of traced runs


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _session(run_dir: Path, nproc: int, event_log: Path | None):
    from data_transformation_python_spark.session import get_spark

    tmp = run_dir / "tmp"
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={run_dir} -Djava.io.tmpdir={tmp}"
        ),
        "spark.local.dir": str(tmp),
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # keep every stage in the status store: bytes written are summed
        # from it at the end of the run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        warehouse_dir=str(run_dir / "warehouse"),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the Hive metastore starts lazily: start it inside set-up
    spark.catalog.listDatabases()
    return spark


def _cli(args: list[str]) -> tuple[int, str]:
    """Invoke the framework CLI in-process; return (exit code, stdout)."""
    from data_transformation_python_spark.cli import cli

    out = io.StringIO()
    code = 0
    with contextlib.redirect_stdout(out):
        try:
            cli.main(args=args, standalone_mode=False)
        except SystemExit as e:
            code = int(e.code or 0)
    return code, out.getvalue()


def _make_workload(name: str, seed: int, root: Path, master: str):
    import importlib

    import numpy as np

    module = importlib.import_module(f"perfbench.{name}")
    return module.Workload(np.random.default_rng(seed), root, master)


class Bench:
    def __init__(self, args, run_dir: Path):
        self.args = args
        self.run_dir = run_dir
        self.nproc = _nproc()
        self.attempted = 0
        self.failed = 0
        self.staged_bytes: list[int] = []  # source bytes read, per invocation
        self.detail: dict = {"workload": args.workload, "seed": args.seed}

    # -- set-up ----------------------------------------------------------
    def setup(self, event_log: bool) -> float:
        self.spark = _session(
            self.run_dir, self.nproc, self.run_dir / "eventlog" if event_log else None
        )
        session_s = time.perf_counter() - _T0
        gen = []
        for i in range(GEN_REPEATS):
            t = time.perf_counter()
            wl = _make_workload(
                self.args.workload,
                self.args.seed,
                self.run_dir / f"gen{i}",
                f"local[{self.nproc}]",
            )
            gen.append(time.perf_counter() - t)
        self.wl = wl
        self.detail.update(
            session_s=session_s,
            generate_s=gen,
            input_bytes=wl.input_bytes,
            input_rows=wl.row_count,
            nproc=self.nproc,
        )
        return session_s + statistics.median(gen)

    # -- one run-all invocation -------------------------------------------
    def invoke(self, k: int) -> float:
        staged = self.wl.stage(k)
        args = [
            "--project-dir",
            str(self.wl.project),
            "run-all",
            "--parallelism",
            str(self.nproc),
        ]
        t = time.perf_counter()
        code, out = _cli(args)
        dt = time.perf_counter() - t
        self.staged_bytes.append(staged)
        results = json.loads(out)["results"]
        self.detail["slowest_models"] = sorted(
            ((r.get("duration_sec") or 0, r.get("model")) for r in results),
            reverse=True,
        )[:8]
        bad = [r for r in results if not r.get("success")]
        self.attempted += len(results)
        self.failed += len(bad)
        if code != 0 or bad:
            self.detail.setdefault("failed_models", []).extend(
                f"{r.get('model')}: {str(r.get('error'))[:300]}" for r in bad
            )
        return dt

    def dq_pass(self) -> float:
        """The CLI ``test`` command over the built tables; return its wall
        time.  Every test counts as attempted, every non-PASS as failed."""
        t = time.perf_counter()
        code, out = _cli(["--project-dir", str(self.wl.project), "test"])
        dt = time.perf_counter() - t
        lines = [ln.split("\t") for ln in out.splitlines() if ln.count("\t") == 3]
        failed = [ln for ln in lines if ln[3] != "PASS"]
        self.detail["tests_run"] = len(lines)
        self.attempted += len(lines)
        self.failed += len(failed) + (1 if code != 0 and not failed else 0)
        if failed:
            self.detail["failed_tests"] = ["/".join(f) for f in failed]
        return dt

    def checks(self) -> None:
        results = self.wl.check(self.spark)
        self.attempted += len(results)
        bad = [name for name, ok in results if not ok]
        self.failed += len(bad)
        self.detail["checks"] = len(results)
        if bad:
            self.detail["failed_checks"] = bad

    def bytes_written_ratio(self) -> float:
        """Call right after the timed invocations: every stage so far
        belongs to one of them (set-up runs no Spark job)."""
        from perfbench.spark_stats import output_bytes

        written = output_bytes(self.spark)
        self.detail["bytes_written"] = written
        self.detail["bytes_input"] = sum(self.staged_bytes)
        return written / sum(self.staged_bytes)


def run(args) -> tuple[dict, dict]:
    run_dir = ROOT / ".perfbench_runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    bench = Bench(args, run_dir)
    tracer = None
    if args.trace:
        from perfbench.tracer import Tracer

        tracer = Tracer()
    try:
        metrics = _measure(bench, tracer, args.seconds)
        if tracer:
            # the event log is complete once the session has stopped
            bench.spark.stop()
            bench.spark = None
            metrics = tracer.metrics(
                run_dir / "eventlog", traced=metrics["traced"], untraced=metrics["warm"]
            )
            trace_file = TRACE_DIR / f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
            tracer.write(trace_file)
            bench.detail["trace_file"] = str(trace_file.relative_to(ROOT))
    finally:
        if getattr(bench, "spark", None) is not None:
            bench.spark.stop()
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": v, "unit": _unit(n)} for n, v in metrics.items()},
    }
    return result, bench.detail


def _stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: the gateway exits
    when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _unit(metric: str) -> str:
    if metric.endswith("_s") or ".p50" in metric or ".p90" in metric:
        return "s"
    if metric.endswith("_bytes"):
        return "B"
    if metric == "bytes_written_per_input_byte":
        return "B/B"
    return "count"


def _measure(bench: Bench, tracer, seconds: float) -> dict:
    """Run the schedule; return the end-to-end metrics, or, when traced,
    the raw warm samples the tracer turns into per-layer metrics."""
    from perfbench.spark_stats import counter_delta, jvm_counters

    setup_s = bench.setup(event_log=tracer is not None)
    spark = bench.spark
    jvm0 = jvm_counters(spark)
    if tracer:
        tracer.install(spark)
    cold = bench.invoke(0)
    jvm_cold = jvm_counters(spark)
    k = 1
    # the first warm invocation still pays most of the JIT storm the cold
    # one set off: it is run, not measured
    for _ in range(WARMUP):
        bench.invoke(k)
        k += 1

    warm: list[float] = []
    traced: list[float] = []
    if tracer:
        # a fixed number of untraced/traced pairs, alternating which side
        # goes first, so both sides see the same JIT drift and the traced
        # counters cover the same batches in every run of a seed
        tracer.uninstall()
        for i in range(2 * TRACE_PAIRS):
            if i % 4 in (0, 3):  # untraced, traced, traced, untraced, ...
                warm.append(bench.invoke(k))
            else:
                tracer.install(spark)
                tracer.begin_invocation(spark)
                traced.append(bench.invoke(k))
                tracer.end_invocation(spark)
                tracer.uninstall()
            k += 1
        tracer.install(spark)
    else:
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(warm) < MIN_SAMPLES:
            warm.append(bench.invoke(k))
            k += 1
    jvm_warm = jvm_counters(spark)
    ratio = bench.bytes_written_ratio()

    test_s = bench.dq_pass()
    if tracer:
        tracer.uninstall()
    t = time.perf_counter()
    bench.checks()
    bench.detail["check_s"] = time.perf_counter() - t
    bench.detail.update(
        cold_run_s=cold,
        warm_s=warm,
        warm_samples=len(warm),
        traced_warm_s=traced or None,
        jvm_setup=jvm0,
        jvm_cold=counter_delta(jvm0, jvm_cold),
        jvm_warm=counter_delta(jvm_cold, jvm_warm),
        failed_ratio=bench.failed / max(bench.attempted, 1),
    )
    if tracer:
        return {"warm": warm, "traced": traced}
    return {
        "setup_s": setup_s,
        "cold_run_s": cold,
        "dag_run_s.p50": statistics.median(warm),
        "test_s": test_s,
        "bytes_written_per_input_byte": ratio,
    }


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"{PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    result, detail = run(args)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
