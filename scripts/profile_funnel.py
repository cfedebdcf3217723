"""Per-model + per-phase timing of one example_pipeline DAG run —
where do pipeline_curation_funnel / pipeline_funnel_bpe actually
spend their seconds?  (round 15 continuation; read-only diagnostic)

Usage: python scripts/profile_funnel.py [unigram|bpe] [--repeats N]
"""
import os
import shutil
import sys
import tempfile
import time
import uuid
from pathlib import Path

sys.path.insert(0, "/root/repo")

from data_transformation_python_spark.config import load_config  # noqa: E402
from data_transformation_python_spark.dependency import (  # noqa: E402
    ParallelExecutor,
    build_dependency_graph,
)
from data_transformation_python_spark.executor import (  # noqa: E402
    ModelExecutor,
    SparkExecutor,
)
from data_transformation_python_spark.parser import SQLParser  # noqa: E402
from data_transformation_python_spark.state import create_state_manager  # noqa: E402
from data_transformation_python_spark.session import get_spark  # noqa: E402


def one_run(spark, sf_dir, extra_vars):
    src = Path("/root/repo/example_pipeline")
    tmp = tempfile.mkdtemp(prefix="dtps_funnel_prof_")
    proj = Path(tmp) / "example_pipeline"
    t = {}
    t0 = time.perf_counter()
    shutil.copytree(src, proj)
    t["copytree"] = time.perf_counter() - t0
    db = f"funnel_prof_{uuid.uuid4().hex[:8]}"
    os.environ["TESTDATA_DIR"] = sf_dir
    try:
        t0 = time.perf_counter()
        config = load_config(proj)
        config.database = db
        config.variables.update(extra_vars or {})
        parser = SQLParser(config.models_dir)
        state = create_state_manager(config.state_dir, config.env_name)
        mx = ModelExecutor(
            SparkExecutor(spark, database=db), parser, config, state
        )
        graph = build_dependency_graph(parser.parse_directory())
        levels = graph.topological_sort()
        t["config+parse+dag"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        results = ParallelExecutor(max_parallelism=4).execute_levels(
            levels, lambda name: mx.execute_model(name), graph
        )
        t["execute_levels"] = time.perf_counter() - t0
        failed = [r for r in results if not r.get("success")]
        if failed:
            raise RuntimeError(str(failed[:1]))
        t0 = time.perf_counter()
        packed = spark.table(f"{db}.gold_packed")
        spark.createDataFrame(packed.collect(), packed.schema)
        t["collect+rebuild"] = time.perf_counter() - t0
        per_model = [
            (r["model"], r.get("duration_sec")) for r in results
        ]
    finally:
        t0 = time.perf_counter()
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(tmp, ignore_errors=True)
        t["drop_db"] = time.perf_counter() - t0
    return t, per_model, [lv for lv in levels]


def main():
    fam = sys.argv[1] if len(sys.argv) > 1 else "unigram"
    repeats = 3
    if "--repeats" in sys.argv:
        repeats = int(sys.argv[sys.argv.index("--repeats") + 1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="dtps-funnel-prof")
    spark.range(1000).selectExpr("sum(id)").collect()
    import bench

    cal = bench.jvm_calibration(spark, shots=3, n=20_000_000_000,
                                name="range_2e10_sum")
    print(f"cal2 median: {cal['median']:.3f}")
    extra = {"tokenizer": "bpe"} if fam == "bpe" else None
    for i in range(repeats):
        t, per_model, levels = one_run(spark, sf_dir, extra)
        total = sum(t.values())
        print(f"\n== run {i} ({fam}) total {total:.2f}s ==")
        for k, v in t.items():
            print(f"  {k:18s} {v:7.3f}")
        print("  levels:", [len(lv) for lv in levels])
        for m, d in sorted(per_model, key=lambda x: -(x[1] or 0)):
            print(f"    {m:22s} {d:7.3f}")


if __name__ == "__main__":
    main()
