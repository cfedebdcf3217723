"""Dependency graph tests — ports of the reference suite
(reference: tests/test_dependency.py) plus execution-order and
impact-analysis coverage."""

from __future__ import annotations

import pytest

from data_transformation_python_spark.dependency import (
    CircularDependencyError,
    DependencyGraph,
    ParallelExecutor,
    build_dependency_graph,
)


def _diamond() -> DependencyGraph:
    g = DependencyGraph()
    g.add_model("raw")
    g.add_model("left", {"raw"})
    g.add_model("right", {"raw"})
    g.add_model("mart", {"left", "right"})
    return g


def test_graph_creation():
    g = _diamond()
    assert g.get_dependencies("mart") == {"left", "right"}
    assert g.get_dependents("raw") == {"left", "right"}


def test_topological_levels():
    levels = _diamond().topological_sort()
    assert levels == [["raw"], ["left", "right"], ["mart"]]


def test_cycle_detection():
    g = DependencyGraph()
    g.add_model("a", {"b"})
    g.add_model("b", {"a"})
    with pytest.raises(CircularDependencyError) as ei:
        g.topological_sort()
    assert set(ei.value.cycle) >= {"a", "b"}


def test_transitive_dependencies():
    g = _diamond()
    assert g.get_dependencies("mart", recursive=True) == {"left", "right", "raw"}
    assert g.get_dependents("raw", recursive=True) == {"left", "right", "mart"}


def test_execution_order_with_targets():
    g = _diamond()
    levels = g.get_execution_order(["left"])
    assert levels == [["raw"], ["left"]]


def test_impact_analysis():
    g = _diamond()
    assert g.impact_analysis(["left"]) == {"left", "mart"}


def test_remove_model():
    g = _diamond()
    g.remove_model("left")
    assert "left" not in g.nodes
    assert g.get_dependents("raw") == {"right"}
    assert g.get_dependencies("mart") == {"right"}


def test_build_from_parsed():
    class P:
        def __init__(self, deps):
            self.dependencies = deps

    parsed = {"a": P(set()), "b": P({"a", "external_table"})}
    g = build_dependency_graph(parsed)
    # edges only to known models
    assert g.get_dependencies("b") == {"a"}


def test_parallel_executor_runs_levels_in_order():
    ran = []

    def run(name):
        ran.append(name)
        return {"model": name, "success": True}

    g = DependencyGraph()
    for name in ("a", "b", "c"):
        g.add_model(name)
    results = ParallelExecutor(max_parallelism=2).execute_levels(
        [["a"], ["b", "c"]], run, g
    )
    assert len(results) == 3
    assert ran[0] == "a"  # level barrier ordering
    assert set(ran[1:]) == {"b", "c"}


def test_parallel_executor_graceful_degradation():
    def run(name):
        if name == "bad":
            raise RuntimeError("boom")
        return {"model": name, "success": True}

    g = DependencyGraph()
    for name in ("bad", "good"):
        g.add_model(name)
    results = ParallelExecutor().execute_levels([["bad", "good"]], run, g)
    by_model = {r["model"]: r for r in results}
    assert not by_model["bad"]["success"]
    assert by_model["good"]["success"]


@pytest.mark.parametrize("failure", ["raises", "returns"])
def test_parallel_executor_skips_dependents_of_failed_model(failure):
    """a -> b -> c with an independent d: when a fails (by raising, or
    by returning a failed result as ``execute_model`` does), b and c
    are never run and report skipped; d still runs."""
    from data_transformation_python_spark.metrics import RunMetrics

    g = DependencyGraph()
    g.add_model("a")
    g.add_model("b", {"a"})
    g.add_model("c", {"b"})
    g.add_model("d")
    ran = []

    def run(name):
        ran.append(name)
        if name == "a":
            if failure == "raises":
                raise RuntimeError("boom")
            return {"model": name, "success": False, "error": "boom"}
        return {"model": name, "success": True}

    results = ParallelExecutor(max_parallelism=2).execute_levels(
        g.topological_sort(), run, g
    )
    assert sorted(ran) == ["a", "d"]
    by_model = {r["model"]: r for r in results}
    for name in ("b", "c"):
        assert by_model[name] == {
            "model": name,
            "success": False,
            "skipped": True,
            "error": "upstream a failed",
        }
    assert by_model["d"]["success"]
    m = RunMetrics().start()
    for r in results:
        m.record(r)
    s = m.finish()
    assert (s["models_run"], s["failed"], s["skipped"]) == (2, 1, 2)
    assert s["failed_models"] == ["a"]
    assert sorted(s["skipped_models"]) == ["b", "c"]


def test_to_dot():
    dot = _diamond().to_dot()
    assert '"raw" -> "left";' in dot


def test_selector_closures_upstream_downstream_both():
    import pytest

    from data_transformation_python_spark.dependency import DependencyGraph
    from data_transformation_python_spark.errors import DependencyError

    g = DependencyGraph()
    # a -> b -> c,  a -> d (diamond-free chain + side branch)
    g.add_model("a", [])
    g.add_model("b", ["a"])
    g.add_model("c", ["b"])
    g.add_model("d", ["a"])

    flat = lambda lv: [n for level in lv for n in level]
    assert flat(g.get_execution_order(["b"])) == ["a", "b"]  # upstream closure
    assert flat(g.get_execution_order(["b+"])) == ["b", "c"]  # downstream only
    assert flat(g.get_execution_order(["+b+"])) == ["a", "b", "c"]
    assert flat(g.get_execution_order(["a+"])) == ["a", "b", "d", "c"]
    with pytest.raises(DependencyError):
        g.get_execution_order(["nope"])
