"""Counters read from the running Spark driver through py4j.

- ``jvm_counters``: JIT compile time (CompilationMXBean), GC time (every
  GarbageCollectorMXBean) and Spark's ``CodegenMetrics`` histogram count.
  Cheap reads, taken at run boundaries in every run so an outlier can be
  explained.
- ``output_bytes``: bytes written, summed over the stages in Spark's
  status store.  Read once, after the timed invocations.
"""

from __future__ import annotations


def jvm_counters(spark) -> dict:
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gc_ms = sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans())
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    hist = codegen.METRIC_COMPILATION_TIME()
    return {
        "jit_compile_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "gc_s": gc_ms / 1e3,
        "codegen_compiles": int(hist.getCount()),
        # the histogram keeps a reservoir, not a sum: mean × count
        "codegen_compile_mean_ms": float(hist.getSnapshot().getMean()),
    }


def counter_delta(before: dict, after: dict) -> dict:
    return {
        "jvm.jit_compile_s": after["jit_compile_s"] - before["jit_compile_s"],
        "jvm.gc_s": after["gc_s"] - before["gc_s"],
        "spark.codegen_compiles": after["codegen_compiles"] - before["codegen_compiles"],
    }


def output_bytes(spark) -> int:
    """Bytes written by every stage so far: the ``outputBytes`` task
    metric summed per stage in Spark's in-memory status store (kept
    whether or not the UI runs)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.stageList(
        None, False, False, getattr(store, "stageList$default$4")(), None
    )
    return sum(int(seq.apply(i).outputBytes()) for i in range(seq.size()))
