"""End-to-end curation-pipeline project (example_pipeline): the LLM
training-data funnel — ingest → language-ID → Gopher filter → MinHash
dedup → DSIR selection → sequence packing — running as framework
materializations with DQ tests.  This proves the §2.12 operator
surface and the model/DAG/incremental framework compose as ONE
product, not two separately-tested halves.
"""

from __future__ import annotations

import shutil
from pathlib import Path
import uuid

import pytest

from data_transformation_python_spark.config import load_config
from data_transformation_python_spark.dependency import (
    ParallelExecutor,
    build_dependency_graph,
)
from data_transformation_python_spark.executor import ModelExecutor, SparkExecutor
from data_transformation_python_spark.model import ModelRegistry
from data_transformation_python_spark.parser import SQLParser
from data_transformation_python_spark.state import create_state_manager
from data_transformation_python_spark.testing import TestRunner

EXAMPLE = Path(__file__).resolve().parents[1] / "example_pipeline"
MODELS = [
    "bronze_documents",
    "silver_signals",
    "silver_quality",
    "silver_dedup",
    "silver_scrubbed",
    "silver_decontam",
    "silver_words",
    "silver_vocab",
    "silver_tokenized",
    "silver_dsir_counts",
    "gold_dsir_selected",
    "gold_packed",
]


@pytest.fixture(scope="module")
def project(tmp_path_factory, spark):
    proj = tmp_path_factory.mktemp("proj") / "example_pipeline"
    shutil.copytree(EXAMPLE, proj)
    db = f"pipeline_{uuid.uuid4().hex[:8]}"
    for tst in (proj / "tests").glob("*.sql"):
        tst.write_text(
            tst.read_text().replace("analytics_pipeline.", f"{db}.")
        )
    config = load_config(proj)
    config.database = db
    parser = SQLParser(config.models_dir)
    state = create_state_manager(config.state_dir, config.env_name)
    ex = SparkExecutor(spark, database=db)
    mx = ModelExecutor(ex, parser, config, state)
    yield {
        "config": config,
        "parser": parser,
        "state": state,
        "ex": ex,
        "mx": mx,
        "db": db,
    }
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _run_all(project) -> list[dict]:
    parsed = project["parser"].parse_directory()
    graph = build_dependency_graph(parsed)
    return ParallelExecutor(max_parallelism=4).execute_levels(
        graph.topological_sort(), lambda name: project["mx"].execute_model(name), graph
    )


def test_funnel_dag_runs_and_narrows(project, spark):
    results = _run_all(project)
    failed = [r for r in results if not r.get("success")]
    assert not failed, failed
    db = project["db"]
    for m in MODELS:
        assert spark.catalog.tableExists(f"{db}.{m}"), m

    n_bronze = spark.table(f"{db}.bronze_documents").count()
    n_quality = spark.table(f"{db}.silver_quality").count()
    n_dedup = spark.table(f"{db}.silver_dedup").count()
    n_scrub = spark.table(f"{db}.silver_scrubbed").count()
    n_decon = spark.table(f"{db}.silver_decontam").count()
    # the funnel must narrow monotonically and keep a real corpus
    assert n_bronze >= n_quality >= n_dedup > 0
    assert n_quality < n_bronze  # the Gopher gate actually rejects
    # scrub is a 1:1 projection; decontam drops the eval stand-ins
    # (and any 8-gram-contaminated doc) but keeps a real corpus
    assert n_scrub == n_dedup
    assert 0 < n_decon < n_scrub

    # the ingest-stamped PII must not survive the scrub, and the
    # placeholders must appear (the scrub is load-bearing, not a
    # no-op regexp over clean text)
    scrubbed = spark.table(f"{db}.silver_scrubbed")
    assert scrubbed.where("text rlike '@mail\\\\.example'").count() == 0
    assert scrubbed.where("text rlike '\\\\+1-555-[0-9]{4}'").count() == 0
    assert scrubbed.where("text rlike '<EMAIL>'").count() == n_scrub

    # DSIR admits only non-target docs, bounded by the keep-k var
    sel = spark.table(f"{db}.gold_dsir_selected")
    assert 0 < sel.count() <= 50
    # packing covers exactly the en slice + the DSIR-selected docs
    packed = spark.table(f"{db}.gold_packed")
    n_en = (
        spark.table(f"{db}.silver_decontam")
        .where("lang = 'en'")
        .count()
    )
    assert packed.count() == n_en + sel.count()
    # every pack offset respects the 512-PIECE budget (round 13: the
    # packer budgets trained-tokenizer pieces, not whitespace tokens)
    assert packed.where("pack_offset < 0 OR pack_offset >= 512").count() == 0

    # the trained vocabulary is a real pipeline artifact: all corpus
    # chars plus up to keep_multi multi-char pieces, every score > 0
    vocab = spark.table(f"{db}.silver_vocab")
    n_multi = vocab.where("piece_len > 1").count()
    assert 0 < n_multi <= 24
    assert vocab.where("neg_logprob_q <= 0").count() == 0
    # tokenization covers every decontam survivor exactly once, and
    # multi-char pieces actually fire (pieces < whitespace-ish chars)
    tok = spark.table(f"{db}.silver_tokenized")
    assert tok.count() == n_decon
    assert tok.where("n_pieces <= 0").count() == 0
    # piece counts are what gold_packed budgets by
    assert (
        packed.join(tok, "doc_id")
        .where(packed.n_pieces != tok.n_pieces)
        .count()
        == 0
    )


def test_tokenizer_models_pinned_to_generator(project):
    """The silver_vocab/silver_tokenized model SQL embeds BOTH
    tokenizer-family bodies GENERATED by operators/text.py — the
    unigram branch's DP expressions (_ulm_dp_expr, scale 8192,
    max_piece 4) and the whole BPE branch (bpe_vocab_model_sql /
    bpe_serve_model_sql, k=8).  Pin the checked-in files against the
    generators so the models and the operators (and therefore the
    DuckDB oracles built from the same machinery) cannot drift
    apart silently."""
    from data_transformation_python_spark.operators.text import (
        _ulm_dp_expr,
        bpe_serve_model_sql,
        bpe_vocab_model_sql,
    )

    models = project["config"].models_dir
    vocab_sql = (models / "silver" / "silver_vocab.sql").read_text()
    tok_sql = (models / "silver" / "silver_tokenized.sql").read_text()
    for forward in (True, False):
        expr = _ulm_dp_expr(8192, 4, forward)
        assert expr in vocab_sql, ("silver_vocab.sql DP drifted from "
                                   "_ulm_dp_expr", forward)
        assert expr in tok_sql, ("silver_tokenized.sql DP drifted "
                                 "from _ulm_dp_expr", forward)
    assert bpe_vocab_model_sql(8) in vocab_sql, (
        "silver_vocab.sql BPE branch drifted from bpe_vocab_model_sql"
    )
    assert bpe_serve_model_sql(8) in tok_sql, (
        "silver_tokenized.sql BPE branch drifted from "
        "bpe_serve_model_sql"
    )


def test_funnel_bpe_mode_end_to_end(tmp_path, spark):
    """The config-driven tokenizer switch (round 14): the SAME
    project with the `tokenizer: bpe` var override must run the DAG
    green with silver_vocab materializing the greedy-merge table and
    silver_tokenized counting BPE pieces — both families drive the
    end-to-end funnel, the selection text_tokenizer_compare computes
    is actually consumable."""
    proj = tmp_path / "example_pipeline"
    shutil.copytree(EXAMPLE, proj)
    db = f"pipeline_bpe_{uuid.uuid4().hex[:8]}"
    for tst in (proj / "tests").glob("*.sql"):
        tst.write_text(
            tst.read_text().replace("analytics_pipeline.", f"{db}.")
        )
    config = load_config(proj)
    config.database = db
    config.variables["tokenizer"] = "bpe"
    parser = SQLParser(config.models_dir)
    state = create_state_manager(config.state_dir, config.env_name)
    ex = SparkExecutor(spark, database=db)
    mx = ModelExecutor(ex, parser, config, state)
    try:
        graph = build_dependency_graph(parser.parse_directory())
        results = ParallelExecutor(max_parallelism=4).execute_levels(
            graph.topological_sort(), lambda name: mx.execute_model(name), graph
        )
        failed = [r for r in results if not r.get("success")]
        assert not failed, failed
        # the trained artifact is the BPE merge table, not the
        # unigram vocab — schema proves the branch actually flipped
        vocab = spark.table(f"{db}.silver_vocab")
        assert set(vocab.columns) == {
            "step", "left_sym", "right_sym", "merged", "pair_count",
        }
        assert vocab.count() == 8
        # merges must actually fire: fewer pieces than charsplit
        tok = spark.table(f"{db}.silver_tokenized")
        n_decon = spark.table(f"{db}.silver_decontam").count()
        assert tok.count() == n_decon
        assert tok.where("n_pieces <= 0").count() == 0
        assert tok.where("n_unsegmented != 0").count() == 0
        # packing budgets BPE pieces
        packed = spark.table(f"{db}.gold_packed")
        assert (
            packed.join(tok, "doc_id")
            .where(packed.n_pieces != tok.n_pieces)
            .count()
            == 0
        )
        assert packed.where(
            "pack_offset < 0 OR pack_offset >= 512"
        ).count() == 0
        # the DQ suite holds in bpe mode too (incl. the new
        # tokenized_in_domain custom test)
        registry = ModelRegistry(config.models_dir)
        runner = TestRunner(ex, registry, config.tests_dir, state=state)
        results = []
        for m in MODELS:
            results += runner.run_model_tests(m, f"{db}.{m}")
        results += runner.run_custom_sql_tests()
        bad = [r for r in results if not r.passed]
        assert not bad, bad
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_dq_and_custom_tests_pass(project, spark):
    db = project["db"]
    if not spark.catalog.tableExists(f"{db}.gold_packed"):
        _run_all(project)
    registry = ModelRegistry(project["config"].models_dir)
    runner = TestRunner(
        project["ex"],
        registry,
        project["config"].tests_dir,
        state=project["state"],
    )
    results = []
    for m in MODELS:
        results += runner.run_model_tests(m, f"{db}.{m}")
    results += runner.run_custom_sql_tests()
    assert results, "no DQ tests discovered"
    bad = [r for r in results if not r.passed]
    assert not bad, bad
    # both custom SQL tests must have been discovered and run
    custom = {r.test_name for r in results if r.model == "custom"}
    assert custom == {
        "funnel_monotone",
        "packed_docs_accounted",
        "tokenized_in_domain",
    }


def test_incremental_rerun_is_stable(project, spark):
    """Re-running the DAG must merge-idempotently: same row counts,
    no duplicate doc_ids from the unique-key incremental ingest."""
    db = project["db"]
    if not spark.catalog.tableExists(f"{db}.gold_packed"):
        _run_all(project)
    before = {m: spark.table(f"{db}.{m}").count() for m in MODELS}
    results = _run_all(project)
    assert all(r.get("success") for r in results)
    after = {m: spark.table(f"{db}.{m}").count() for m in MODELS}
    assert before == after
    dup = (
        spark.table(f"{db}.bronze_documents")
        .groupBy("doc_id")
        .count()
        .where("count > 1")
        .count()
    )
    assert dup == 0
