"""CLI: run / run-all / plan / list / deps / validate / test /
backfill / explain / compact / lineage / serve.

Port of the reference CLI verbs (reference: src/framework/cli.py:44-339)
on click, with one behavioral upgrade flagged in SURVEY §3.2: run-all
executes each dependency level *in parallel* (the reference ships an
async executor but runs levels sequentially — cli.py:159-169)."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import click

from .backfill import BackfillExecutor
from .config import load_config
from .dependency import ParallelExecutor, build_dependency_graph
from .errors import FrameworkError
from .executor import ModelExecutor, SparkExecutor
from .lineage import (
    LineageGraph,
    extract_column_lineage,
    extract_column_lineage_spark,
)
from .model import ModelRegistry
from .parser import SQLParser
from .plans.plan import PlanGenerator
from .session import get_spark
from .state import create_state_manager
from .testing import AnomalyTests, TestRunner


def _parse_vars(vars_str: str | None) -> dict:
    """``k=v,k2=v2`` → dict with numeric coercion (reference:
    cli.py:61-65)."""
    out: dict = {}
    if not vars_str:
        return out
    for pair in vars_str.split(","):
        if "=" not in pair:
            continue
        k, v = pair.split("=", 1)
        v = v.strip()
        if v.lstrip("-").isdigit():
            out[k.strip()] = int(v)
        else:
            try:
                out[k.strip()] = float(v)
            except ValueError:
                out[k.strip()] = v
    return out


class Context:
    def __init__(self, project_dir: str, env: str | None, fail_fast: bool = False):
        self.config = load_config(project_dir, env)
        self.parser = SQLParser(self.config.models_dir)
        self.state = create_state_manager(self.config.state_dir, self.config.env_name)
        self._spark = None
        self.fail_fast = fail_fast

    @property
    def spark(self):
        if self._spark is None:
            self._spark = get_spark(
                app_name=f"dtps-{self.config.env_name}",
                master=self.config.master,
                warehouse_dir=self.config.warehouse_dir,
                extra_conf=self.config.spark_conf,
            )
        return self._spark

    def model_executor(self) -> ModelExecutor:
        ex = SparkExecutor(self.spark, database=self.config.database)
        return ModelExecutor(
            ex, self.parser, self.config, self.state, fail_fast=self.fail_fast
        )


@click.group()
@click.option("--project-dir", default=".", help="Project directory")
@click.option("--env", default=None, help="Environment name")
@click.option("--fail-fast", is_flag=True, default=False)
@click.pass_context
def cli(ctx, project_dir, env, fail_fast):
    """PySpark-native SQL transformation framework."""
    ctx.obj = Context(project_dir, env, fail_fast)


@cli.command()
@click.argument("model")
@click.option("--vars", "vars_str", default=None, help="k=v,k2=v2")
@click.option("--dry-run", is_flag=True, default=False)
@click.option("--full-refresh", is_flag=True, default=False)
@click.pass_obj
def run(ctx: Context, model, vars_str, dry_run, full_refresh):
    """Run a single model (reference: cli.py:44-105)."""
    result = ctx.model_executor().execute_model(
        model,
        variables=_parse_vars(vars_str),
        dry_run=dry_run,
        full_refresh=full_refresh,
    )
    click.echo(json.dumps(result, indent=2, default=str))
    sys.exit(0 if result.get("success") else 1)


@cli.command("run-all")
@click.option("--vars", "vars_str", default=None)
@click.option("--select", default=None, help="comma-separated selectors: model (with upstream), model+ (with downstream), +model+ (both)")
@click.option("--parallelism", default=4, type=int)
@click.option("--full-refresh", is_flag=True, default=False)
@click.pass_obj
def run_all(ctx: Context, vars_str, select, parallelism, full_refresh):
    """DAG run, level-parallel (reference: cli.py:112-175)."""
    parsed = ctx.parser.parse_directory()
    graph = build_dependency_graph(parsed)
    targets = [s.strip() for s in select.split(",")] if select else None
    levels = graph.get_execution_order(targets)
    mx = ctx.model_executor()
    variables = _parse_vars(vars_str)
    runner = ParallelExecutor(max_parallelism=parallelism, spark=ctx.spark)
    from .metrics import RunMetrics

    metrics = RunMetrics().start()
    results = runner.execute_levels(
        levels,
        lambda name: mx.execute_model(
            name, variables=variables, full_refresh=full_refresh
        ),
        graph,
    )
    for r in results:
        metrics.record(r)
    summary = metrics.finish()
    ok = all(r.get("success") for r in results)
    click.echo(
        json.dumps(
            {"success": ok, "metrics": summary, "results": results},
            indent=2,
            default=str,
        )
    )
    sys.exit(0 if ok else 1)


@cli.command()
@click.option("--select", default=None)
@click.pass_obj
def plan(ctx: Context, select):
    """Diff desired vs recorded state without executing (reference:
    cli.py:178-232)."""
    parsed = ctx.parser.parse_directory()
    graph = build_dependency_graph(parsed)
    targets = [s.strip() for s in select.split(",")] if select else None
    p = PlanGenerator(ctx.state, graph).generate_plan(parsed, targets)
    click.echo(
        json.dumps(
            {
                "summary": p.summary(),
                "models": {
                    n: {"change": mp.change_type.value, "reasons": mp.reasons}
                    for n, mp in sorted(p.models.items())
                },
                "execution_order": p.execution_order,
            },
            indent=2,
        )
    )


@cli.command("list")
@click.pass_obj
def list_models(ctx: Context):
    """(reference: cli.py:235-254)"""
    parsed = ctx.parser.parse_directory()
    for name in sorted(parsed):
        p = parsed[name]
        click.echo(
            f"{name}\tmaterialized={p.config.get('materialized', 'view')}"
            f"\tdeps={','.join(sorted(p.dependencies)) or '-'}"
        )


@cli.command()
@click.argument("model", required=False)
@click.option("--dot", is_flag=True, default=False)
@click.pass_obj
def deps(ctx: Context, model, dot):
    """(reference: cli.py:257-277)"""
    parsed = ctx.parser.parse_directory()
    graph = build_dependency_graph(parsed)
    if dot:
        click.echo(graph.to_dot())
        return
    if model:
        click.echo(
            json.dumps(
                {
                    "dependencies": sorted(graph.get_dependencies(model, recursive=True)),
                    "dependents": sorted(graph.get_dependents(model, recursive=True)),
                }
            )
        )
    else:
        click.echo(json.dumps([list(lv) for lv in graph.topological_sort()]))


@cli.command()
@click.pass_obj
def validate(ctx: Context):
    """Parse + syntax-check all models with Spark's parser (reference:
    cli.py:280-309)."""
    parsed = ctx.parser.parse_directory()
    failures = 0
    for name in sorted(parsed):
        ok, err = ctx.parser.validate_sql(parsed[name].rendered_sql, ctx.spark)
        status = "OK" if ok else f"FAIL: {err}"
        click.echo(f"{name}\t{status}")
        failures += 0 if ok else 1
    sys.exit(1 if failures else 0)


@cli.command()
@click.option("--model", default=None)
@click.pass_obj
def test(ctx: Context, model):
    """Run schema.yml + custom SQL data-quality tests, one aggregate per
    table, several tables at a time.  With ``--model``, only that
    model's tests and the custom tests that read its table."""
    registry = ModelRegistry(ctx.config.models_dir)
    mx = ctx.model_executor()
    runner = TestRunner(mx.executor, registry, ctx.config.tests_dir, state=ctx.state)
    names = [model] if model else sorted(registry.models)
    # a model-scoped run also runs only the custom tests that read it
    results = runner.run_all(
        {n: mx.full_table_name(n) for n in names}, scoped=model is not None
    )
    # Save the volume_anomaly history this run recorded, and nothing
    # else: onto the state as it is on disk now, so what a concurrent
    # run-all or serve saved meanwhile is kept.
    key = AnomalyTests.VOLUME_KEY
    history = {n: ctx.state.get_incremental_state(n, key) for n in names}
    ctx.state.load()
    for n, h in history.items():
        if h is not None:
            ctx.state.set_incremental_state(n, key, h)
    ctx.state.save()
    for r in results:
        status = "PASS" if r.passed else f"FAIL({r.rows_failed})"
        click.echo(f"{r.model}\t{r.test_name}\t{r.column or '-'}\t{status}")
    sys.exit(0 if all(r.passed for r in results) else 1)


@cli.command()
@click.argument("model")
@click.option("--start-date", required=True)
@click.option("--end-date", required=True)
@click.option("--interval-days", default=1, type=int)
@click.option("--vars", "vars_str", default=None)
@click.pass_obj
def backfill(ctx: Context, model, start_date, end_date, interval_days, vars_str):
    """(reference: backfill.py:22-84, C7)"""
    results = BackfillExecutor(ctx.model_executor()).backfill_date_range(
        model, start_date, end_date, interval_days, variables=_parse_vars(vars_str)
    )
    ok = all(r.get("success") for r in results)
    click.echo(json.dumps({"success": ok, "slices": len(results)}, default=str))
    sys.exit(0 if ok else 1)


@cli.command()
@click.argument("table")
@click.option("--cluster-by", "cluster_by", default=None,
              help="pipe-separated cluster columns, or zorder(a|b)")
@click.option("--cluster-files", "cluster_files", default=None, type=int)
@click.option("--target-file-mb", "target_file_mb", default=None, type=int,
              help="size the rewrite from on-disk bytes instead of an"
                   " explicit file count (ceil(bytes / target-file-mb))")
@click.pass_obj
def compact(ctx: Context, table, cluster_by, cluster_files, target_file_mb):
    """Rewrite a table with a (re-)clustered file layout — the
    periodic compaction that restores min/max pruning after
    incremental appends/merges fragment it.  TABLE is a model name
    (resolved against the project database) or a qualified table.
    With --target-file-mb the output file count is derived from the
    table's actual bytes (materialization.compact_table)."""
    from .materialization import TableMaterialization, compact_table

    mx = ctx.model_executor()
    target = table if "." in table else mx.full_table_name(table)
    if target_file_mb is not None and cluster_files is None:
        r = compact_table(
            mx.executor,
            target,
            target_file_mb=target_file_mb,
            cluster_by=[cluster_by] if cluster_by else None,
        )
        click.echo(json.dumps({"table": target, **r}))
        return
    strat = TableMaterialization(mx.executor, ctx.state)
    cfg = {}
    if cluster_by:
        cfg["cluster_by"] = cluster_by
    if cluster_files:
        cfg["cluster_files"] = cluster_files
    df = ctx.spark.table(target)
    n_before = df.inputFiles()
    strat._swap_in(
        target, df, strat._partition_by(cfg), strat._cluster_by(cfg)
    )
    n_after = ctx.spark.table(target).inputFiles()
    click.echo(json.dumps({
        "table": target,
        "files_before": len(n_before),
        "files_after": len(n_after),
        "clustered_by": cluster_by,
    }))


@cli.command()
@click.argument("model")
@click.option(
    "--mode",
    default="formatted",
    type=click.Choice(["simple", "extended", "formatted", "cost"]),
    help="Spark explain mode; 'cost' shows CBO row/size estimates "
    "(populated for tables ANALYZEd via the analyze config).",
)
@click.pass_obj
def explain(ctx: Context, model, mode):
    """Physical plan of a model's compiled SELECT — the scale review
    tool: check pushdown, pruning, and join strategies before
    materializing."""
    mx = ctx.model_executor()
    _, final_sql, _ = mx.compile_model(model)
    # 'simple' is not an EXPLAIN keyword in Spark SQL (only LOGICAL/
    # FORMATTED/EXTENDED/CODEGEN/COST parse) — bare EXPLAIN is the
    # simple mode.
    kw = "" if mode == "simple" else f" {mode.upper()}"
    rows = ctx.spark.sql(f"EXPLAIN{kw} {final_sql}").collect()
    for r in rows:
        click.echo(r[0])


@cli.command()
@click.argument("model", required=False)
@click.option("--dot", is_flag=True, default=False)
@click.option(
    "--analyzed/--parse-only",
    default=True,
    help="Resolve lineage through Spark's analyzer (exact, expands *) "
    "when the referenced tables exist; --parse-only forces the "
    "sessionless regex extractor.",
)
@click.pass_obj
def lineage(ctx: Context, model, dot, analyzed):
    """Column lineage (reference: utils/lineage.py, G8-G10)."""
    parsed = ctx.parser.parse_directory()
    mx = ctx.model_executor()
    lg = LineageGraph()
    for name, p in parsed.items():
        cols = None
        if analyzed:
            # The probe is EXPECTED to fail when referenced tables are
            # not built yet; silence the JVM logger for the attempt so
            # the expected TABLE_OR_VIEW_NOT_FOUND error log does not
            # pollute the command's JSON stdout/stderr.
            sc = ctx.spark.sparkContext
            sc.setLogLevel("OFF")
            try:
                _, final_sql, _ = mx.compile_model(name)
                cols = extract_column_lineage_spark(ctx.spark, final_sql)
            except Exception:
                cols = None  # tables not built yet → parse-time fallback
            finally:
                sc.setLogLevel("WARN")
        if cols is None:
            cols = extract_column_lineage(p.rendered_sql)
        lg.add_model(name, cols)
    if dot:
        click.echo(lg.to_dot())
        return
    names = [model] if model else sorted(parsed)
    out = {}
    for n in names:
        out[n] = [
            {"column": col, "sources": [list(s) for s in srcs]}
            for (m, col), srcs in sorted(lg.edges.items())
            if m == n
        ]
    click.echo(json.dumps(out, indent=2))


@cli.command()
@click.option("--watch/--no-watch", default=True)
@click.option("--poll-interval", default=1.0, type=float)
@click.option(
    "--backend",
    type=click.Choice(["auto", "inotify", "polling"]),
    default="auto",
    help="file-watch backend: kernel inotify (Linux), polling, or auto",
)
@click.pass_obj
def serve(ctx: Context, watch, poll_interval, backend):
    """Hot-reload loop: re-run impacted models on file change
    (reference: cli.py:312-339, C8)."""
    from .watcher import ModelWatcher

    mx = ctx.model_executor()

    def on_change(event: str, path: Path):
        name = Path(path).stem
        click.echo(f"[{event}] {path}")
        if event in ("created", "modified") and str(path).endswith(".sql"):
            parsed = ctx.parser.parse_directory()
            graph = build_dependency_graph(parsed)
            impacted = sorted(graph.impact_analysis([name]))
            for lv in graph.get_execution_order(impacted):
                for m in lv:
                    if m in impacted:
                        r = mx.execute_model(m)
                        click.echo(f"  rebuilt {m}: success={r.get('success')}")

    w = ModelWatcher(
        ctx.config.models_dir, on_change, ctx.parser, poll_interval,
        backend=backend,
    )
    if not watch:
        w.poll_once()
        return
    w.start()
    click.echo(
        f"Watching {ctx.config.models_dir} via {w.backend_name} "
        "(Ctrl-C to stop)"
    )
    try:
        import time

        while True:
            time.sleep(1)
    except KeyboardInterrupt:
        w.stop()



def main():
    try:
        cli(standalone_mode=False)
    except click.exceptions.Abort:
        sys.exit(130)
    except click.ClickException as e:
        e.show()
        sys.exit(e.exit_code)
    except FrameworkError as e:
        # typed errors map to stable exit codes (reference:
        # utils/errors.py) so callers can match on type/code
        click.echo(f"error[{type(e).__name__}]: {e}", err=True)
        sys.exit(e.exit_code)


if __name__ == "__main__":
    main()
