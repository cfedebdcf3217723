#!/usr/bin/env python
"""Scaling-exponent measurement for the corpus-scale operator family.

Runs the headline dedup/similarity entries at several corpus sizes
(same deterministic generator as bench.py) and prints time-vs-n with a
fitted power-law exponent per entry: t ≈ c·n^k.  Near-linear k is the
evidence the 100 TB posture rests on (SCALING.md records the measured
table); a superlinear k flags the operator for redesign.

Usage: python scaling_sweep.py [n1 n2 ...]   (default 50k 150k 300k 500k)
Each (entry, n) is timed twice after a warm-up entry; the MIN is kept
(scheduling noise is one-sided).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
import warnings

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import build_scaled_corpus, corpus_scale_entries  # noqa: E402
from data_transformation_python_spark.session import get_spark  # noqa: E402

ENTRIES = [
    "dedup_minhash_lsh",
    "dedup_pipeline_survivors",
    "sim_embedding_neardup",
    "dedup_connected_components",
    "dedup_incremental",
    "dedup_semantic_clusters",
    # round 8: the serving + sketch families — the ADC distance-table
    # join and Bloom broadcast probe were the newest plans and had
    # never been swept; their exponents should be ≲ 1
    "sim_ivfpq_topk",
    "sim_pq_adc_topk",
    "sketch_bloom_decontam",
    "decontam_ngram",
    "sim_ivf_topk_auto",
    "dedup_semantic_auto",
    # round 8b: the HLL register build — constant-output MAX shuffle,
    # should be flat-to-linear in corpus size
    "sketch_hll_tokens",
    # round 8c: the newest plans — candidate-bounded levenshtein
    # confirm, the MG count-shuffle, SQ8 broadcast serving, and the
    # vocab-iteration BPE trainer; all should be ≲ linear
    "dedup_editdist_verify",
    "sketch_mg_heavyhitters",
    "sim_sq8_topk",
    "text_bpe_learn",
    # round 8d: maximal-span extraction (broadcast probe + per-doc
    # window), bigram stupid-backoff LM scoring (count joins), and
    # the constant-cell HDR quantile sketch — expected ≲ linear, with
    # hdr flat-ish (output size is constant in corpus size)
    "dedup_span_extract",
    "text_lm_backoff",
    "sketch_hdr_quantiles",
    # round 8e: PageRank — edge build is the corpus-sized half, the
    # 3 iterations run on vocab-sized state; expected ≲ linear
    "graph_pagerank_tokens",
    "text_vocab_growth",
    # round 8f: image dHash near-dup (constant-size clusters ⇒ pair
    # volume linear; the decode/hash map is embarrassingly parallel)
    # and the ExactSubstr trim (span extract + array-side filtering)
    "multimodal_dhash_neardup",
    "dedup_span_trim",
    # round 8g: BM25 one-shot retrieval — one scan + broadcast stats,
    # expected ~linear with a tiny constant
    "text_bm25_topk",
    # round 12: the r11/r12 plans the verdict asked to sweep — the
    # auto-routed kNN serve (banded route past the 10^8-pair knee:
    # fixed 5k queries, seeds scale with the corpus, expect ~linear
    # in seeds; band width auto-flips at 2^20 seeds), the dirty-mode
    # extraction cascade (one shuffle-free projection, expect the
    # clean cascade's exponent with a ~2x constant), and unigram-LM
    # tokenizer training (corpus-sized cost is one histogram shuffle;
    # E-steps run on the distinct-word cache, expect ~linear with a
    # near-constant tail)
    "sim_knn_classify_auto_wide",
    "text_html_extract_dirty",
    "text_unigram_lm_train",
    # round 13: the funnel's decontam stage (r12-verdict item 6) —
    # eval-suite size FIXED at 500 docs, corpus swept; the bench
    # shingle set broadcasts, expect ~linear map-side shingling
    "funnel_decontam_fixed_eval",
    # round 14: tokenizer evaluation — both trainers + both
    # distinct-word-cache serve joins per shot; two histogram scans
    # dominate, expect ~linear
    "text_tokenizer_compare",
]


def sweep_stream_admission(sizes_m: list[int] | None = None) -> list[dict]:
    """The admission gate's STREAM-side curve (round 14, r13-verdict
    item 6): batch artifacts (band indexes, DSIR weights, cutoff)
    built ONCE from a fixed 50k corpus, then only the streamed slice
    is swept — the deployment split, where artifacts rebuild per
    compaction window and the stream pays per-doc row-local cost.
    Expect ~linear in streamed docs above the streaming-machinery
    floor (one availableNow micro-batch per run)."""
    import shutil
    import tempfile

    from data_transformation_python_spark.queries.streaming_gate import (
        _adm_batch_artifacts,
        _adm_stream_admitted,
    )
    from data_transformation_python_spark.streaming import run_available_now

    sizes_m = sizes_m or [10_000, 20_000, 40_000]
    spark = get_spark()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    corpus_dir = build_scaled_corpus(spark, 50_000)
    # the scaled corpus has no lang column — derive a deterministic
    # 60/25/15 split so the target-vs-rest DSIR histograms and the
    # admitted_via routing get real structure
    # ... and the hash-token text carries no English stopwords, which
    # the Gopher quality gate requires (n_stop_en >= 2) — blend a
    # stopword tail in so the gate admits real work (mean token
    # length and alpha/symbol ratios stay inside the gate's bands)
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet").selectExpr(
        "doc_id",
        "concat(text, ' the and of to is the a') AS text",
        "CASE WHEN pmod(xxhash64(doc_id), 20) < 12 THEN 'en'"
        " WHEN pmod(xxhash64(doc_id), 20) < 17 THEN 'de'"
        " ELSE 'es' END AS lang",
    )
    results: list[dict] = []
    indexes, score, cs, cd = _adm_batch_artifacts(spark, docs)
    try:
        for m in sizes_m:
            tmp = tempfile.mkdtemp(prefix="dtps_sweep_adm_")
            try:
                sl = docs.filter(f"doc_id % 50000 < {m}")
                n = sl.count()
                sl.write.parquet(f"{tmp}/slice")
                schema = spark.read.parquet(f"{tmp}/slice").schema
                ts = []
                n_admitted = 0
                for _ in range(2):
                    stream = spark.readStream.schema(schema).parquet(
                        f"{tmp}/slice"
                    )
                    admitted = _adm_stream_admitted(
                        stream, indexes, score, cs, cd
                    )
                    t0 = time.perf_counter()
                    table, q = run_available_now(admitted, "sweep_adm")
                    ts.append(time.perf_counter() - t0)
                    n_admitted = table.count()
                    spark.catalog.dropTempView(q.name)
                if not 0 < n_admitted <= n:
                    raise RuntimeError(
                        f"admission sweep processed nothing at {n} docs"
                    )
                results.append(
                    {"stream_docs": n, "admitted": n_admitted,
                     "stream_run_sec": round(min(ts), 3)}
                )
                print(
                    f"admission stream={n} docs -> {min(ts):.2f}s"
                    f" ({n_admitted} admitted)",
                    flush=True,
                )
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
    finally:
        for ix in indexes:
            ix.unpersist()
    if len(results) >= 2:
        lo, hi = results[0], results[-1]
        k = math.log(
            hi["stream_run_sec"] / lo["stream_run_sec"]
        ) / math.log(hi["stream_docs"] / lo["stream_docs"])
        print(
            f"stream_admission exponent k={k:.2f} over fixed artifacts"
            " (micro-batch floor flattens it)",
            flush=True,
        )
        results.append({"exponent": round(k, 3)})
    return results


def sweep_funnel_incremental(sizes_m: list[int] | None = None) -> list[dict]:
    """The incremental-value curve (round 12): cold-build the
    example_pipeline funnel on a fixed 75% batch 1 (doc_id % 16 >= 4
    of the sf0.1 corpus), then time ONLY the batch-2 run at several
    batch-2 sizes (doc_id % 16 < m).  The bronze MERGE touches
    batch-2 rows only; silver/gold are full table rebuilds — so the
    curve's slope prices the MERGE + per-row work and its intercept
    the rebuild floor (the part merge_buckets partition-pruning and
    incremental silver strategies attack at 100 TB)."""
    import shutil
    import tempfile
    import uuid
    from pathlib import Path

    from data_transformation_python_spark.config import load_config
    from data_transformation_python_spark.dependency import (
        ParallelExecutor,
        build_dependency_graph,
    )
    from data_transformation_python_spark.executor import (
        ModelExecutor,
        SparkExecutor,
    )
    from data_transformation_python_spark.parser import SQLParser
    from data_transformation_python_spark.state import create_state_manager

    sizes_m = sizes_m or [1, 2, 4]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = Path(__file__).resolve().parent / "example_pipeline"
    results = []
    for m in sizes_m:
        tmp = tempfile.mkdtemp(prefix="dtps_sweep_funnel_")
        proj = Path(tmp) / "example_pipeline"
        shutil.copytree(src, proj)
        b1 = Path(tmp) / "b1"
        b2 = Path(tmp) / "b2"
        docs.filter("doc_id % 16 >= 4").write.parquet(
            str(b1 / "documents.parquet")
        )
        batch2 = docs.filter(f"doc_id % 16 < {m}")
        n2 = batch2.count()
        batch2.write.parquet(str(b2 / "documents.parquet"))
        db = f"sweep_funnel_{uuid.uuid4().hex[:8]}"
        old_env = os.environ.get("TESTDATA_DIR")
        try:
            t2 = None
            for bdir in (str(b1), str(b2)):
                os.environ["TESTDATA_DIR"] = bdir
                config = load_config(proj)
                config.database = db
                parser = SQLParser(config.models_dir)
                state = create_state_manager(
                    config.state_dir, config.env_name
                )
                mx = ModelExecutor(
                    SparkExecutor(spark, database=db), parser, config, state
                )
                graph = build_dependency_graph(parser.parse_directory())
                levels = graph.topological_sort()
                t0 = time.time()
                rs = ParallelExecutor(max_parallelism=4).execute_levels(
                    levels, lambda name: mx.execute_model(name), graph
                )
                t2 = time.time() - t0  # keeps the LAST (batch-2) time
                bad = [r for r in rs if not r.get("success")]
                if bad:
                    raise RuntimeError(f"funnel sweep failed: {bad[:1]}")
            results.append(
                {"batch2_docs": n2, "batch2_run_sec": round(t2, 3)}
            )
            print(f"funnel batch2={n2} docs -> {t2:.2f}s", flush=True)
        finally:
            if old_env is None:
                os.environ.pop("TESTDATA_DIR", None)
            else:
                os.environ["TESTDATA_DIR"] = old_env
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
            shutil.rmtree(tmp, ignore_errors=True)
    if len(results) >= 2:
        lo, hi = results[0], results[-1]
        k = math.log(hi["batch2_run_sec"] / lo["batch2_run_sec"]) / math.log(
            hi["batch2_docs"] / lo["batch2_docs"]
        )
        print(f"funnel_incremental batch-2 exponent k={k:.2f} "
              f"(rebuild floor flattens it by design)", flush=True)
        results.append({"exponent": round(k, 3)})
    return results


def main() -> None:
    # SWEEP_FUNNEL=1 runs the batch-2-size funnel sweep instead of
    # the corpus-size entry sweep
    if os.environ.get("SWEEP_FUNNEL"):
        print(json.dumps({"funnel_incremental":
                          sweep_funnel_incremental()}, indent=1))
        return
    # SWEEP_STREAM_ADMISSION=1 runs the fixed-artifact stream-slice
    # sweep of the admission gate instead of the entry sweep
    if os.environ.get("SWEEP_STREAM_ADMISSION"):
        print(json.dumps({"stream_admission":
                          sweep_stream_admission()}, indent=1))
        return
    # SWEEP_ENTRIES=a,b,c restricts the run (re-sweeping one family
    # shouldn't cost a full pass over all of them)
    global ENTRIES
    sel = os.environ.get("SWEEP_ENTRIES")
    if sel:
        ENTRIES = [e.strip() for e in sel.split(",") if e.strip()]
    sizes = [int(a) for a in sys.argv[1:]] or [50_000, 150_000, 300_000, 500_000]
    spark = get_spark(app_name="dtps-scaling-sweep")
    spark.range(1000).selectExpr("sum(id)").collect()
    results: dict[str, dict[int, float]] = {e: {} for e in ENTRIES}
    for n in sizes:
        corpus_dir = build_scaled_corpus(spark, n)
        entries = {
            name: thunk
            for name, thunk in corpus_scale_entries(spark, corpus_dir)
            if name in ENTRIES
        }
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            for name in ENTRIES:
                ts = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    entries[name]().write.format("noop").mode("overwrite").save()
                    ts.append(time.perf_counter() - t0)
                    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                        rdd.unpersist()
                results[name][n] = round(min(ts), 3)
                print(f"  {name} @ {n}: {results[name][n]} s", file=sys.stderr)
    fits = {}
    for name, pts in results.items():
        xs = sorted(pts)
        if len(xs) >= 2:
            lx = [math.log(x) for x in xs]
            ly = [math.log(max(pts[x], 1e-3)) for x in xs]
            mx, my = sum(lx) / len(lx), sum(ly) / len(ly)
            k = sum((a - mx) * (b - my) for a, b in zip(lx, ly)) / sum(
                (a - mx) ** 2 for a in lx
            )
            fits[name] = round(k, 2)
    print(json.dumps({"times": results, "exponent": fits}, indent=1))


if __name__ == "__main__":
    main()
