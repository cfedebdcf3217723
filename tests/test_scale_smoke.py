"""Scale smoke test: the dedup/text operators on a corpus 100× the
fixture size, generated fully distributed (no driver-side loops).
Verifies the pipeline shape holds when the data stops being tiny:
planted exact duplicates are all found, MinHash-LSH recovers planted
near-duplicate pairs, and nothing collects rows to the driver."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from data_transformation_python_spark.operators import dedup as dd
from data_transformation_python_spark.operators import text as tx

N_DOCS = 50_000
VOCAB = [
    "spark", "query", "table", "join", "scan", "merge", "filter", "window",
    "batch", "stream", "hash", "sort", "key", "row", "column", "vector",
    "group", "agg", "order", "part", "small", "fast", "slow", "value",
]


def _corpus(spark):
    """50k docs, ~40 words each, derived deterministically from the id.

    Every id with id % 10 == 1 copies the text of id-1 → 5k planted
    exact-duplicate pairs.  Generation is pure Spark expressions —
    the corpus never exists on the driver."""
    vocab = ", ".join(f"'{w}'" for w in VOCAB)
    seed = "CASE WHEN id % 10 = 1 THEN id - 1 ELSE id END"
    text = (
        f"concat_ws(' ', transform(sequence(0, 39), "
        f"i -> element_at(array({vocab}), "
        f"1 + pmod(hash(({seed}) * 41 + i), {len(VOCAB)}))))"
    )
    return spark.range(N_DOCS).select(
        F.col("id").alias("doc_id"), F.expr(text).alias("text")
    )


def test_exact_dedup_at_50k(spark):
    docs = _corpus(spark)
    t0 = time.perf_counter()
    groups = dd.exact_duplicates(docs)
    n_groups = groups.count()
    dup_rows = groups.filter(F.col("n_copies") >= 2).agg(
        F.sum("n_copies").alias("s"), F.count(F.lit(1)).alias("g")
    ).first()
    elapsed = time.perf_counter() - t0
    # 5k planted pairs → ≥5k duplicate groups (random collisions may add)
    assert dup_rows["g"] >= N_DOCS // 10
    assert n_groups < N_DOCS
    assert elapsed < 60, f"exact dedup too slow: {elapsed:.1f}s"


def test_minhash_lsh_finds_planted_dups_at_50k(spark):
    docs = _corpus(spark)
    t0 = time.perf_counter()
    cands = dd.minhash_lsh_candidates(docs, num_hashes=8, bands=4)
    # identical docs share every minhash → every planted pair (k, k+1)
    # with k % 10 == 0 must be a candidate
    planted_found = cands.filter(
        (F.col("doc_id_2") == F.col("doc_id_1") + 1)
        & (F.col("doc_id_1") % 10 == 0)
    ).count()
    elapsed = time.perf_counter() - t0
    assert planted_found == N_DOCS // 10
    assert elapsed < 120, f"minhash-lsh too slow: {elapsed:.1f}s"


def test_bench_corpus_structure_and_determinism(spark, tmp_path):
    """The bench harness's scaled corpus must have the documented
    family structure (exact dup at role 1, near dup at role 2, unique
    elsewhere) and be bit-identical across builds — it feeds the
    per-round BENCH numbers, so nondeterminism would make rounds
    incomparable."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from bench import build_scaled_corpus

    n = 2_000
    d1 = build_scaled_corpus(spark, n)
    docs = spark.read.parquet(f"{d1}/documents.parquet")
    emb = spark.read.parquet(f"{d1}/embeddings.parquet")
    assert docs.count() == n and emb.count() == n

    j = docs.alias("a").join(
        docs.alias("b"), F.col("a.doc_id") + 1 == F.col("b.doc_id")
    )
    # role 1 == exact copy of the family base (role 0)
    exact = j.filter(
        (F.col("b.doc_id") % 10 == 1) & (F.col("a.text") == F.col("b.text"))
    ).count()
    assert exact == n // 10
    # role 2 texts share the base prefix but differ (near dup)
    near = docs.filter(F.col("doc_id") % 10 == 2)
    base = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 2).alias("doc_id"), F.col("text").alias("base_text")
    )
    nd = near.join(base, "doc_id")
    assert nd.filter(F.expr("text != base_text AND startswith(text, base_text)")).count() == n // 10

    # embeddings: role-1 vectors nearly parallel to the base
    from data_transformation_python_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    pairs = cosine_neardup_pairs(emb.filter("vec_id < 500"), threshold=0.95)
    assert pairs.filter(
        (F.col("vec_id_2") == F.col("vec_id_1") + 1) & (F.col("vec_id_1") % 10 == 0)
    ).count() == 50

    # determinism: a rebuild produces the identical corpus
    h1 = docs.agg(F.sum(F.xxhash64("doc_id", "text"))).first()[0]
    build_scaled_corpus(spark, n)
    docs2 = spark.read.parquet(f"{d1}/documents.parquet")
    h2 = docs2.agg(F.sum(F.xxhash64("doc_id", "text"))).first()[0]
    assert h1 == h2


def test_token_stats_at_50k(spark):
    docs = _corpus(spark)
    t0 = time.perf_counter()
    stats = tx.token_stats(docs)
    row = stats.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("n_tokens").alias("mn"),
        F.max("n_tokens").alias("mx"),
    ).first()
    elapsed = time.perf_counter() - t0
    assert row["n"] == N_DOCS
    assert row["mn"] == row["mx"] == 40
    assert elapsed < 60, f"token stats too slow: {elapsed:.1f}s"
