"""Per-layer tracing of the framework, from outside.

``Tracer.install`` wraps public methods of each layer's classes with a
span recorder (monkey-patching the class attribute; ``uninstall`` puts
the originals back), so no framework file changes.  A span records its
name, trace id (the model name, or ``run`` outside a model), start, end
and parent.  Spans stay in memory; ``write`` dumps them at the end of
the run.

Spark-side numbers come from the event log (uncompressed, one file,
read after the session stops): jobs, stages and tasks and their task
metrics, attributed to a traced invocation by job submission time.
Inside the per-model callable the tracer calls ``setJobGroup(model)``,
so every job also carries its model name.  JIT, GC and codegen
counters are read from the JVM around each traced invocation.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from collections import Counter, defaultdict
from pathlib import Path

from perfbench.spark_stats import jvm_counters

# plain timed spans: (module, class, method, span name)
_SPANS = [
    ("parser", "SQLParser", "parse_directory", "parser.parse"),
    ("parser", "SQLParser", "render", "parser.render"),
    ("dependency", "DependencyGraph", "topological_sort", "dependency.sort"),
    ("executor", "ModelExecutor", "compile_model", "executor.compile"),
    ("executor", "ModelExecutor", "resolve_refs_and_sources", "executor.source_resolve"),
    ("operators.merge_backend", "RewriteBackend", "upsert", "merge.rewrite"),
    ("operators.merge_backend", "RewriteBackend", "cdc_merge", "merge.rewrite"),
    ("operators.merge_backend", "BucketedRewriteBackend", "upsert", "merge.bucketed"),
    ("operators.merge_backend", "BucketedRewriteBackend", "cdc_merge", "merge.bucketed"),
    ("state", "StateManager", "save", "state.save"),
    ("testing", "TestRunner", "run_custom_sql_tests", "testing.custom_sql"),
]
STRATEGIES = ("view", "table", "incremental", "cdc", "cdc_retirement")
TEST_KINDS = ("unique", "not_null", "accepted_values", "range", "volume_anomaly")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self.invocations: list[dict] = []  # one per traced warm invocation
        self._inv: dict | None = None
        self._dag: int | None = None

    # -- spans -------------------------------------------------------------
    def _open(self, name: str, parent: int | None = None) -> int:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if parent is None and stack:
            parent = stack[-1]
        span = {
            "name": name,
            "trace": getattr(self._local, "model", None) or "run",
            "start": time.perf_counter(),
            "end": None,
            "parent": parent,
        }
        with self._lock:
            self.spans.append(span)
            sid = len(self.spans) - 1
        stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        self._local.stack.pop()

    def _timed(self, name_of, orig):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            sid = tracer._open(name_of(a, kw) if callable(name_of) else name_of)
            try:
                return orig(*a, **kw)
            finally:
                tracer._close(sid)

        return wrapper

    def _counted(self, key: str, orig):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer._lock:
                tracer.counts[key] += 1
            return orig(*a, **kw)

        return wrapper

    def _patch(self, owner, attr: str, wrapper_of) -> None:
        orig = owner.__dict__[attr]
        setattr(owner, attr, wrapper_of(orig))
        self._patches.append((owner, attr, orig))

    # -- install / uninstall ----------------------------------------------
    def install(self, spark) -> None:
        import importlib

        from pyspark.sql.catalog import Catalog
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.session import SparkSession

        from data_transformation_python_spark.dependency import (
            DependencyGraph,
            ParallelExecutor,
        )
        from data_transformation_python_spark.executor import ModelExecutor
        from data_transformation_python_spark.materialization import Materializer
        from data_transformation_python_spark.testing import TestRunner

        for mod, cls_name, attr, name in _SPANS:
            module = importlib.import_module(f"data_transformation_python_spark.{mod}")
            self._patch(getattr(module, cls_name), attr, functools.partial(self._timed, name))

        tracer = self
        sc = spark.sparkContext

        def order(orig):  # remember the graph for the critical path
            @functools.wraps(orig)
            def wrapper(graph, *a, **kw):
                levels = orig(graph, *a, **kw)
                if tracer._inv is not None:
                    tracer._inv["deps"] = {
                        n: set(node.dependencies) for n, node in graph.nodes.items()
                    }
                return levels

            return wrapper

        def levels(orig):  # the DAG span; model slots in pool threads hang off it
            @functools.wraps(orig)
            def wrapper(runner, *a, **kw):
                sid = tracer._open("dependency.execute_levels")
                tracer._dag = sid
                if tracer._inv is not None:
                    tracer._inv["parallelism"] = runner.max_parallelism
                    tracer._inv["dag_span"] = sid
                try:
                    return orig(runner, *a, **kw)
                finally:
                    tracer._close(sid)

            return wrapper

        def slot(orig):  # the per-model callable, in a pool thread
            @functools.wraps(orig)
            def wrapper(runner, name, run_fn):
                tracer._local.model = name
                sc.setJobGroup(name, f"model {name}")
                sid = tracer._open("dependency.model_slot", tracer._dag)
                try:
                    return orig(runner, name, run_fn)
                finally:
                    tracer._close(sid)
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                    tracer._local.model = None

            return wrapper

        def strategy(a, kw):
            config = a[4] if len(a) > 4 else kw.get("config")
            return "materialization." + str((config or {}).get("materialized", "view"))

        def test_kind(a, kw):
            test = a[4] if len(a) > 4 else kw["test"]
            return "testing." + (test if isinstance(test, str) else next(iter(test)))

        self._patch(DependencyGraph, "get_execution_order", order)
        self._patch(ParallelExecutor, "execute_levels", levels)
        self._patch(ParallelExecutor, "_run_in_pool", slot)
        self._patch(
            ModelExecutor,
            "execute_model",
            functools.partial(self._timed, "executor.execute_model"),
        )
        self._patch(Materializer, "materialize", functools.partial(self._timed, strategy))
        self._patch(TestRunner, "_run_one", functools.partial(self._timed, test_kind))
        self._patch(SparkSession, "sql", functools.partial(self._counted, "sql"))
        self._patch(
            DataFrameWriter, "saveAsTable", functools.partial(self._counted, "save_as_table")
        )
        for attr, val in list(vars(Catalog).items()):
            if callable(val) and not attr.startswith("_"):
                self._patch(Catalog, attr, functools.partial(self._counted, "catalog"))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- invocation bookkeeping --------------------------------------------
    def begin_invocation(self, spark) -> None:
        self._inv = {
            "first_span": len(self.spans),
            "counts": Counter(self.counts),
            "jvm": jvm_counters(spark),
            "wall": [time.time(), None],
        }

    def end_invocation(self, spark) -> None:
        inv = self._inv
        inv["wall"][1] = time.time()
        inv["last_span"] = len(self.spans)
        inv["counts"] = self.counts - inv["counts"]
        inv["jvm"] = (inv["jvm"], jvm_counters(spark))
        self.invocations.append(inv)
        self._inv = None

    # -- metrics --------------------------------------------------------------
    def _layer_metrics(self, inv: dict) -> dict:
        spans = self.spans[inv["first_span"] : inv["last_span"]]
        total: defaultdict = defaultdict(float)
        calls: Counter = Counter()
        for s in spans:
            total[s["name"]] += s["end"] - s["start"]
            calls[s["name"]] += 1
        models = {
            s["trace"]: s["end"] - s["start"]
            for s in spans
            if s["name"] == "executor.execute_model"
        }
        dag = self.spans[inv["dag_span"]]
        dag_wall = dag["end"] - dag["start"]
        slots = [s for s in spans if s["name"] == "dependency.model_slot"]
        busy = sum(s["end"] - s["start"] for s in slots)
        before, after = inv["jvm"]
        m = {
            "parser.parse_s": total["parser.parse"],
            "parser.render_calls": calls["parser.render"],
            "parser.render_s": total["parser.render"],
            "dependency.sort_s": total["dependency.sort"],
            "dependency.idle_slot_s": inv["parallelism"] * dag_wall - busy,
            "dependency.critical_path_s": _critical_path(inv["deps"], models),
            "executor.compile_s": total["executor.compile"],
            "executor.source_resolve_s": total["executor.source_resolve"],
            "executor.sql_statements": inv["counts"]["sql"],
            "executor.catalog_calls": inv["counts"]["catalog"],
            "materialization.save_as_table_calls": inv["counts"]["save_as_table"],
            "model_s.p50": _pct(list(models.values()), 50),
            "model_s.p90": _pct(list(models.values()), 90),
            "merge.rewrite_s": total["merge.rewrite"],
            "merge.bucketed_s": total["merge.bucketed"],
            "state.save_calls": calls["state.save"],
            "state.save_s": total["state.save"],
            "spark.codegen_compiles": after["codegen_compiles"] - before["codegen_compiles"],
            "spark.codegen_compile_s": (after["codegen_compiles"] - before["codegen_compiles"])
            * after["codegen_compile_mean_ms"]
            / 1e3,
            "jvm.jit_compile_s": after["jit_compile_s"] - before["jit_compile_s"],
            "jvm.gc_s": after["gc_s"] - before["gc_s"],
        }
        for strat in STRATEGIES:
            m[f"materialization.{strat}_s"] = total[f"materialization.{strat}"]
        return m

    def _test_metrics(self) -> dict:
        total: defaultdict = defaultdict(float)
        calls: Counter = Counter()
        for s in self.spans:
            if s["name"].startswith("testing."):
                total[s["name"]] += s["end"] - s["start"]
                calls[s["name"]] += 1
        m = {"testing.tests_run": sum(calls[f"testing.{k}"] for k in TEST_KINDS)}
        for kind in (*TEST_KINDS, "custom_sql"):
            m[f"testing.{kind}_s"] = total[f"testing.{kind}"]
        return m

    def metrics(self, event_log_dir: Path, traced: list[float], untraced: list[float]) -> dict:
        """Per-layer metrics: the median over the traced warm invocations
        of each per-invocation value, plus the data-quality pass."""
        jobs = _event_log_jobs(event_log_dir)
        rows = []
        for inv in self.invocations:
            m = self._layer_metrics(inv)
            m.update(_spark_metrics(jobs, inv["wall"]))
            rows.append(m)
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        out.update(self._test_metrics())
        out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        return out

    def self_times(self) -> dict:
        """Total and self time per span name (self = span minus the part
        of it its child spans cover)."""
        children = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children[s["parent"]].append(i)
        out: dict = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for i, s in enumerate(self.spans):
            dur = s["end"] - s["start"]
            cover = _union([(self.spans[c]["start"], self.spans[c]["end"]) for c in children[i]])
            rec = out[s["name"]]
            rec["calls"] += 1
            rec["total_s"] += dur
            rec["self_s"] += dur - cover
        return dict(out)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(
            json.dumps({"self_times": self.self_times(), "spans": self.spans}, default=str)
        )


def _pct(xs: list[float], p: int) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, round(p / 100 * (len(xs) - 1)))]


def _union(intervals: list[tuple[float, float]]) -> float:
    covered, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered


def _critical_path(deps: dict[str, set], dur: dict[str, float]) -> float:
    """Longest chain of model durations along dependency edges."""
    memo: dict[str, float] = {}

    def finish(n: str) -> float:
        if n not in memo:
            memo[n] = dur.get(n, 0.0) + max(
                (finish(d) for d in deps.get(n, ()) if d in dur), default=0.0
            )
        return memo[n]

    return max((finish(n) for n in dur), default=0.0)


def _event_log_jobs(event_log_dir: Path) -> list[dict]:
    """Jobs from the event log, each with its submission/completion time
    (epoch s), job group, stage count, and task metrics summed over its
    stages."""
    (path,) = [p for p in event_log_dir.iterdir() if p.is_file()]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in path.open():
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            job = {
                "start": ev["Submission Time"] / 1e3,
                "end": None,
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                "stages": 0,
                "tasks": 0,
                "run_ms": 0,
                "cpu_ns": 0,
                "shuffle_read": 0,
                "shuffle_write": 0,
                "spill": 0,
                "input": 0,
                "output": 0,
            }
            jobs[ev["Job ID"]] = job
            for sid in ev["Stage IDs"]:
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
            if job is not None:
                job["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            tm = ev.get("Task Metrics")
            if job is None or not tm:
                continue
            sr, sw = tm["Shuffle Read Metrics"], tm["Shuffle Write Metrics"]
            job["tasks"] += 1
            job["run_ms"] += tm["Executor Run Time"]
            job["cpu_ns"] += tm["Executor CPU Time"]
            job["shuffle_read"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            job["shuffle_write"] += sw["Shuffle Bytes Written"]
            job["spill"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
            job["input"] += tm["Input Metrics"]["Bytes Read"]
            job["output"] += tm["Output Metrics"]["Bytes Written"]
    return list(jobs.values())


def _spark_metrics(jobs: list[dict], window: list[float]) -> dict:
    a, b = window
    mine = [j for j in jobs if a <= j["start"] <= b]
    spans = [(j["start"], j["end"] or b) for j in mine]
    return {
        "spark.jobs": len(mine),
        "spark.stages": sum(j["stages"] for j in mine),
        "spark.tasks": sum(j["tasks"] for j in mine),
        "spark.driver_gap_s": (b - a) - _union(spans),
        "spark.executor_run_s": sum(j["run_ms"] for j in mine) / 1e3,
        "spark.executor_cpu_s": sum(j["cpu_ns"] for j in mine) / 1e9,
        "spark.shuffle_read_bytes": sum(j["shuffle_read"] for j in mine),
        "spark.shuffle_write_bytes": sum(j["shuffle_write"] for j in mine),
        "spark.spill_bytes": sum(j["spill"] for j in mine),
        "spark.input_bytes": sum(j["input"] for j in mine),
        "spark.output_bytes": sum(j["output"] for j in mine),
    }
